"""As-of join (SURVEY.md §2.3).

The reference performs every join as a Python dict lookup or pandas
merge (reference: src/spark_consumers/nyc_neighborhoods.py:176-241;
src/dashboard/app_upgraded.py:580-629). The J1-J11 shapes are plain
``df.join`` calls in queries/core_join.py — broadcast dimension
lookups, a full-outer compare, left_anti / left_semi, a broadcast
nested-loop range join — so Catalyst picks broadcast-hash vs sort-merge
and AQE can re-plan at runtime. The as-of join is the one shape with an
algorithm behind it: union + last(ignoreNulls) window, ONE shuffle on
the join key, no per-row probing; the scalable Spark as-of pattern
(equivalent to DuckDB ASOF JOIN semantics: match the latest right row
with right_ts <= left_ts).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row of the same
    user_id with right_ts <= left_ts (SURVEY §2.3 lists as-of as a gap the
    engine fills; DuckDB `ASOF JOIN` is the oracle).

    Implementation: tag and union both sides, then `last(payload,
    ignoreNulls)` over a window ordered by (ts, side) with right rows
    sorting first at ties. One shuffle on the key — O(n log n) within
    partitions, no per-row probe, no broadcast requirement; this
    survives both sides being huge.
    """
    lcols = left.columns
    l2 = left.select(
        F.col("user_id").alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in lcols]).alias("__left"),
    )
    r2 = right.select(
        F.col("user_id").alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__payload"),
    )
    u = l2.unionByName(r2, allowMissingColumns=True)
    order: list[Column] = [F.col("__ts").asc(), F.col("__side").desc()]
    if tiebreak is not None:
        order.append(F.col(f"__payload.{tiebreak}").asc_nulls_first())
    w = (
        Window.partitionBy("__key")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = u.withColumn("__m", F.last("__payload", ignorenulls=True).over(w))
    out = matched.filter(F.col("__side") == 0).select(
        *[F.col(f"__left.{c}").alias(c) for c in lcols],
        *[F.col(f"__m.{c}").alias(f"matched_{c}") for c in payload_cols],
    )
    return out
