"""The reference's anomaly window as one operator (SURVEY.md §2.5 W3).

The reference computes the expanding anomaly window in driver-side
pandas (reference: src/analysis/anomaly_detection.py:36-56). Here it is
a native `Window` spec: one shuffle on the partition key, sorted within
partitions, computed JVM-side in whole-stage codegen. The lag, rolling,
running-total and rank windows (W1, W2, W4) are one spec each, written
where `queries/core_window.py` uses them.

Scale note: the window partitions by event_type, never by a global
ordering, so there is no single-partition bottleneck, and its input is
the pre-aggregated daily series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def expanding_zscore(df: DataFrame) -> DataFrame:
    """W3/M13: expanding-window z-score of `cnt` per event_type in `day`
    order, EXCLUDING the current row — the reference's anomaly detector
    (reference: src/analysis/anomaly_detection.py:36-56:
    shift(1).expanding().mean()/.std(), std==0 -> percent-change>100%
    rule, first row z=0).

    Frame is unboundedPreceding..-1, the exact translation of
    shift(1).expanding(); z (anomaly above 1.5) and the fallback rule
    follow the reference.
    """
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist_mean = F.avg("cnt").over(w)
    hist_std = F.stddev_samp("cnt").over(w)
    v = F.col("cnt").cast("double")
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
