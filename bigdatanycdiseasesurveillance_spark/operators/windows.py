"""Window-function operators (SURVEY.md §2.5, W1-W4).

The reference computes lag/rolling features with Spark windows
(reference: src/analysis/disease_outbreak_forecaster.py:317-325) and the
expanding anomaly window in driver-side pandas
(reference: src/analysis/anomaly_detection.py:36-56). Here all of them
are native `Window` specs: one shuffle on the partition key, sorted
within partitions, computed JVM-side in whole-stage codegen.

Scale note: these windows partition by a grouping key (event_type,
user), never by a global ordering, so there is no single-partition
bottleneck. The inputs are pre-aggregated daily series — the window
input is already small relative to raw data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lag_features(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 7, 14),
) -> DataFrame:
    """W1: lagged copies of a series per group
    (reference: src/analysis/disease_outbreak_forecaster.py:317-321)."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    out = df
    for k in lags:
        out = out.withColumn(
            f"lag_{k}", F.coalesce(F.lag(value_col, k).over(w), F.lit(0).cast("long"))
        )
    return out


def rolling_stats(df: DataFrame, keys: Sequence[str], order_col: str, value_col: str) -> DataFrame:
    """W2: trailing-7-rows mean/std
    (reference: src/analysis/disease_outbreak_forecaster.py:323-325,
    rowsBetween(-6, 0))."""
    w = Window.partitionBy(*keys).orderBy(order_col).rowsBetween(-6, 0)
    return df.withColumn("roll_avg_7", F.round(F.avg(value_col).over(w), 4)).withColumn(
        "roll_std_7", F.round(F.stddev_samp(value_col).over(w), 4)
    )


def expanding_zscore(df: DataFrame, keys: Sequence[str], order_col: str, value_col: str) -> DataFrame:
    """W3/M13: expanding-window z-score EXCLUDING the current row — the
    reference's anomaly detector (reference:
    src/analysis/anomaly_detection.py:36-56: shift(1).expanding().mean()
    /.std(), std==0 -> percent-change>100% rule, first row z=0).

    Frame is unboundedPreceding..-1, the exact translation of
    shift(1).expanding(); z (anomaly above 1.5) and the fallback rule
    follow the reference.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist_mean = F.avg(value_col).over(w)
    hist_std = F.stddev_samp(value_col).over(w)
    v = F.col(value_col).cast("double")
    z_raw = F.when(
        hist_std.isNull() | (hist_std == 0), F.lit(0.0)
    ).otherwise((v - hist_mean) / hist_std)
    pct_change = F.when(
        hist_mean.isNotNull() & (hist_mean != 0), (v - hist_mean) / hist_mean
    ).otherwise(F.lit(0.0))
    is_anom = F.when(
        hist_std.isNotNull() & (hist_std > 0), z_raw > 1.5
    ).otherwise(pct_change > 1.0)
    return (
        df.withColumn("hist_mean", F.round(hist_mean, 4))
        .withColumn("hist_std", F.round(hist_std, 4))
        .withColumn("z_score", F.round(z_raw, 4))
        .withColumn("is_anomaly", is_anom)
    )


def running_total(
    df: DataFrame, keys: Sequence[str], order_cols: Sequence[str], value_col: str
) -> DataFrame:
    """Cumulative sum per group (beyond-reference, free with windows)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn("running_total", F.round(F.sum(value_col).over(w), 2))


def rank_within_group(
    df: DataFrame, keys: Sequence[str], order_cols, top: int | None = None
) -> DataFrame:
    """Ranking inside groups (dense_rank; reference has only
    orderBy+limit top-k — SURVEY §2.5 notes rank as a gap we fill)."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    out = df.withColumn("rnk", F.dense_rank().over(w))
    if top is not None:
        out = out.filter(F.col("rnk") <= top)
    return out
