"""Join operators (SURVEY.md §2.3, J1-J11 + as-of / range joins).

The reference performs every join as a Python dict lookup or pandas
merge (reference: src/spark_consumers/nyc_neighborhoods.py:176-241;
src/dashboard/app_upgraded.py:580-629). Here each shape is a native
Spark join so Catalyst picks broadcast-hash vs sort-merge and AQE can
re-plan at runtime:

- dimension lookups  -> broadcast hash equi-join (dim ships to executors,
  fact table never shuffles);
- outer comparisons  -> full_outer equi-join on grouped (small) inputs;
- skip-existing      -> left_anti; membership -> left_semi;
- point-in-range     -> broadcast nested-loop with range predicates
  (J3's point-in-bbox shape);
- as-of              -> union + last(ignoreNulls) window: ONE shuffle on
  the join key, no per-row probing; this is the scalable Spark as-of
  pattern (equivalent to DuckDB ASOF JOIN semantics: match the latest
  right row with right_ts <= left_ts).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim_join(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    """J2/J4/J5/J6: inner equi-join against a small dimension, broadcast
    so the fact side never shuffles (reference dict lookups, e.g.
    src/spark_consumers/nyc_neighborhoods.py:176-187)."""
    return fact.join(F.broadcast(dim), on, "inner")


def full_outer_compare(
    left: DataFrame, right: DataFrame, keys: Sequence[str], fill: float = 0.0
) -> DataFrame:
    """J1: official-vs-informal outer merge with zero-fill
    (reference: src/dashboard/app_upgraded.py:580-629 pd.merge outer)."""
    return left.join(right, list(keys), "full_outer").na.fill(fill)


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J11: skip-existing anti-join
    (reference: src/database/chromadb_client.py:77-102)."""
    return left.join(right, on, "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Membership (left semi) — implicit in reference filter-by-IDs
    (reference: src/analysis/spatial_clustering.py:496-519)."""
    return left.join(right, on, "left_semi")


def range_band_join(fact: DataFrame, bands: DataFrame, value_col: str) -> DataFrame:
    """J3: point-in-range join against a small band dimension — the
    point-in-bbox shape (reference:
    src/spark_consumers/nyc_neighborhoods.py:190-205 linear scan).
    Broadcast nested-loop: each executor scans its fact partition against
    the in-memory bands; no shuffle of the fact side. Interval convention
    [lo, hi) over the bands' `lo` and `hi` columns."""
    cond = (F.col(value_col) >= F.col("lo")) & (F.col(value_col) < F.col("hi"))
    return fact.join(F.broadcast(bands), cond, "left")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row of the same
    key with right_ts <= left_ts (SURVEY §2.3 lists as-of as a gap the
    engine fills; DuckDB `ASOF JOIN` is the oracle).

    Implementation: tag and union both sides, then `last(payload,
    ignoreNulls)` over a window ordered by (ts, side) with right rows
    sorting first at ties. One shuffle on the key — O(n log n) within
    partitions, no per-row probe, no broadcast requirement; this
    survives both sides being huge.
    """
    lcols = left.columns
    l2 = left.select(
        F.col(key).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in lcols]).alias("__left"),
    )
    r2 = right.select(
        F.col(key).alias("__key"),
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
