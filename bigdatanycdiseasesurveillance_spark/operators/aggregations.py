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
- `top_n` aggregates THEN sorts the aggregated (small) side — Spark
  plans TakeOrderedAndProject, never a full global sort of raw data;
- `latest_per_group` uses a ranking window over the grouped key, which
  shuffles once on the partition key — same cost class as the groupBy.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Exact-accumulation type for money-style value columns: summing DOUBLE
# is summation-order-dependent, and at large row counts the accumulated
# float error crosses the half-cent rounding boundary (the r7 sf1 audit
# caught tpch_q3 flipping a cent RUN TO RUN on this class). CAVEAT: the
# cast QUANTIZES inputs to 2 decimal places before summing — lossless
# for money columns, lossy for anything with >2dp.
VALUE_DECIMAL = "decimal(14,2)"


def _exact_sum(value_col: str) -> Column:
    return F.sum(F.col(value_col).cast(VALUE_DECIMAL))


def daily_counts(
    df: DataFrame, ts_col: str, keys: Sequence[str], value_col: str | None = None
) -> DataFrame:
    """A1/A2: per-day, per-key counts (+ optional value sum).

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
            F.round(_exact_sum(value_col), 2)
            .cast("double")
            .alias("total_value")
        )
    return (
        df.groupBy(F.date_trunc("day", F.col(ts_col)).cast("date").alias("day"), *keys)
        .agg(*aggs)
    )


def hourly_series(df: DataFrame, ts_col: str) -> DataFrame:
    """A4: hourly event time-series (reference: src/dashboard/app.py:137-155)."""
    return (
        df.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("hour"))
        .agg(F.count("*").alias("cnt"))
    )


def top_n(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A3/O1: top-10 distribution with deterministic tie-breaking
    (reference: src/dashboard/app.py:72-195 ORDER BY count DESC LIMIT 10).
    """
    out = df.groupBy(*keys).agg(F.count("*").alias("cnt"))
    order = [F.desc("cnt")] + [F.asc(k) for k in keys]
    return out.orderBy(*order).limit(10)


def group_summary(df: DataFrame, keys: Sequence[str], ts_col: str) -> DataFrame:
    """A5: per-group count + latest timestamp
    (reference: src/database/psql_db_client.py:211-222
    borough_severity_summary materialized view)."""
    return df.groupBy(*keys).agg(
        F.count("*").alias("cnt"), F.max(ts_col).alias("last_ts")
    )


def global_stats(df: DataFrame, ts_col: str, value_col: str, id_col: str) -> DataFrame:
    """A6/A9: single-row global stats
    (reference: src/database/psql_db_client.py:461-509).

    `avg_value` averages over the VALUE_DECIMAL-quantized exact sum
    (see its caveat for >2dp inputs)."""
    return df.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(id_col).alias("n_distinct_ids"),
        F.min(ts_col).alias("min_ts"),
        F.max(ts_col).alias("max_ts"),
        F.round(
            _exact_sum(value_col).cast("double") / F.count(F.lit(1)),
            4,
        ).alias("avg_value"),
    )


def mean_std_per_group(df: DataFrame, keys: Sequence[str], value_col: str) -> DataFrame:
    """A7: historical mean/std per group feeding z-score risk
    (reference: src/analysis/disease_outbreak_forecaster.py:374-375).

    `mean_value` uses the VALUE_DECIMAL-quantized exact sum while
    `std_value` intentionally keeps the RAW double path (its result is
    a generic irrational — a 4dp-boundary landing has measure zero,
    unlike finite-decimal means), so with >2dp inputs the mean is over
    quantized values and the std over raw ones."""
    return df.groupBy(*keys).agg(
        F.count("*").alias("cnt"),
        F.round(
            _exact_sum(value_col).cast("double") / F.count(F.lit(1)),
            4,
        ).alias("mean_value"),
        F.round(F.stddev_samp(value_col), 4).alias("std_value"),
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


def profile_table(df, cols: list[str]):
    """Data-profiling rollup (the Deequ-style training-pipeline
    primitive): one output row per profiled column with null count,
    distinct count, min/max (as strings for heterogenous types). One
    pass per column batch — each profile is a global aggregate, so the
    whole profile is a handful of single-row shuffles unioned together.
    """
    from pyspark.sql import functions as F

    parts = []
    for c in cols:
        parts.append(
            df.agg(
                F.lit(c).alias("column"),
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.col(c).isNull().cast("long")).cast("long").alias("n_null"),
                F.countDistinct(c).cast("long").alias("n_distinct"),
                F.min(F.col(c).cast("string")).alias("min_str"),
                F.max(F.col(c).cast("string")).alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
