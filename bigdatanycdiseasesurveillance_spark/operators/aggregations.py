"""Aggregation operators (SURVEY.md §2.4, A1-A13).

The reference computes these either in TimescaleDB SQL (time_bucket +
unnest, reference: src/analysis/anomaly_detection.py:12-22;
src/database/psql_db_client.py:194-222) or in driver-side pandas
(reference: src/analysis/spatial_clustering.py:380-462). Here each is a
native groupBy/agg plan: Spark performs map-side partial aggregation
before the shuffle, so the shuffle carries one row per (partition, key),
not per input row — the property that makes these hold at 100 TB.

Scale notes:
- keys here are low-cardinality (event_type, day, user bucket), so the
  post-shuffle side is tiny regardless of input size;
- `latest_per_group` uses a ranking window over the grouped key, which
  shuffles once on the partition key — same cost class as the groupBy.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Exact-accumulation type for money-style value columns: summing DOUBLE
# is summation-order-dependent, and at large row counts the accumulated
# float error crosses the half-cent rounding boundary (an sf1 audit
# caught tpch_q3 flipping a cent RUN TO RUN on this class). CAVEAT: the
# cast QUANTIZES inputs to 2 decimal places before summing — lossless
# for money columns, lossy for anything with >2dp.
VALUE_DECIMAL = "decimal(14,2)"

# The two money devices, as Spark SQL text over the SQL text of their
# argument (callers splice it into a statement, or wrap it as
# F.expr(exact_sum("value")) for one Column), each defined only here.


def exact_sum(value: str) -> str:
    """Order-independent exact sum of a money column (VALUE_DECIMAL)."""
    return f"sum(CAST({value} AS {VALUE_DECIMAL}))"


def cents(value: str) -> str:
    """Exact integer hundredths of a 2-dp double — money in cents, a
    fraction in percent — so comparisons and sums over it are BIGINT
    arithmetic that no summation order can change."""
    return f"CAST(round({value} * 100) AS BIGINT)"


def daily_counts(df: DataFrame, value_col: str | None = None) -> DataFrame:
    """A1/A2: per-day, per-event_type counts of `ts` (+ optional value sum).

    Mirrors the reference's daily_disease_counts materialized view
    (reference: src/database/psql_db_client.py:194-209) with
    date_trunc replacing time_bucket.

    `total_value` sums `value_col` AFTER casting to VALUE_DECIMAL
    (order-independent exact accumulation; inputs are quantized to that
    scale).
    """
    aggs = [F.count("*").alias("cnt")]
    if value_col is not None:
        aggs.append(
            F.round(F.expr(exact_sum(value_col)), 2)
            .cast("double")
            .alias("total_value")
        )
    return (
        df.groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "event_type")
        .agg(*aggs)
    )


def latest_per_group(
    df: DataFrame, keys: Sequence[str], order_cols: Sequence[Column]
) -> DataFrame:
    """A10/W4: keep the winning row per key (last-writer-wins dedup,
    reference: src/database/psql_db_client.py:369-380). A ranking window
    — one shuffle on the keys, no driver collection."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def correlation(df: DataFrame, col_a: Column, col_b: Column) -> DataFrame:
    """A12: Pearson correlation of two series
    (reference: src/dashboard/app_upgraded.py:614-616)."""
    return df.agg(F.round(F.corr(col_a, col_b), 4).alias("corr_value"))
