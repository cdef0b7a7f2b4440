"""Window-function query corpus (SURVEY §2.5 W1-W4 + M13 anomaly).

All operate on the pre-aggregated daily (day, event_type, cnt) series —
the same shape the reference's forecaster and anomaly detector consume.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import aggregations as agg
from ..operators import windows as win
from ..registry import register
from ..tables import table

# Shared CTE for every oracle below.
_DAILY_CTE = """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               event_type,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
"""


def _daily(spark, sf_dir):
    return agg.daily_counts(table(spark, sf_dir, "events"))


@register(
    "win_lag_features",
    oracle=_DAILY_CTE
    + """
        SELECT day, event_type, cnt,
               COALESCE(LAG(cnt, 1) OVER w, 0) AS lag_1,
               COALESCE(LAG(cnt, 7) OVER w, 0) AS lag_7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
    tags=("window", "W1"),
)
def win_lag_features(spark, sf_dir):
    """W1: lag-1/lag-7 features per series, forecast feature prep
    (reference: src/analysis/disease_outbreak_forecaster.py:317-321)."""
    w = Window.partitionBy("event_type").orderBy("day")
    out = _daily(spark, sf_dir)
    for k in (1, 7):
        out = out.withColumn(
            f"lag_{k}", F.coalesce(F.lag("cnt", k).over(w), F.lit(0).cast("long"))
        )
    return out


@register(
    "win_rolling_7d",
    oracle=_DAILY_CTE
    + """
        SELECT day, event_type, cnt,
               ROUND(AVG(cnt) OVER w, 4) AS roll_avg_7,
               ROUND(STDDEV_SAMP(cnt) OVER w, 4) AS roll_std_7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "W2"),
)
def win_rolling_7d(spark, sf_dir):
    """W2: trailing 7-row mean/std, rolling forecast features
    (reference: src/analysis/disease_outbreak_forecaster.py:323-325,
    rowsBetween(-6, 0))."""
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    return (
        _daily(spark, sf_dir)
        .withColumn("roll_avg_7", F.round(F.avg("cnt").over(w), 4))
        .withColumn("roll_std_7", F.round(F.stddev_samp("cnt").over(w), 4))
    )


@register(
    "win_anomaly_zscore",
    oracle=_DAILY_CTE
    + """
        , hist AS (
            SELECT day, event_type, cnt,
                   AVG(cnt) OVER w AS hm,
                   STDDEV_SAMP(cnt) OVER w AS hs
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT day, event_type, cnt,
               ROUND(hm, 4) AS hist_mean,
               ROUND(hs, 4) AS hist_std,
               ROUND(CASE WHEN hs IS NULL OR hs = 0 THEN 0.0
                          ELSE (cnt - hm) / hs END, 4) AS z_score,
               CASE WHEN hs IS NOT NULL AND hs > 0
                    THEN ((cnt - hm) / hs) > 1.5
                    ELSE (CASE WHEN hm IS NOT NULL AND hm <> 0
                               THEN (cnt - hm) / hm ELSE 0.0 END) > 1.0
               END AS is_anomaly,
               CASE WHEN (CASE WHEN hs IS NULL OR hs = 0 THEN 0.0
                               ELSE (cnt - hm) / hs END) > 2.5 THEN 'CRITICAL'
                    WHEN (CASE WHEN hs IS NULL OR hs = 0 THEN 0.0
                               ELSE (cnt - hm) / hs END) > 1.5 THEN 'HIGH'
                    WHEN (CASE WHEN hs IS NULL OR hs = 0 THEN 0.0
                               ELSE (cnt - hm) / hs END) > 0.5 THEN 'MODERATE'
                    ELSE 'LOW' END AS risk_level
        FROM hist
    """,
    tags=("window", "W3", "M13", "M12"),
    bench=True,
)
def win_anomaly_zscore(spark, sf_dir):
    """W3/M13: the reference's anomaly detector — expanding-window
    z-score excluding the current row, std=0 -> pct-change rule, plus
    M12 risk bands (reference: src/analysis/anomaly_detection.py:34-75;
    disease_outbreak_forecaster.py:128-145)."""
    out = win.expanding_zscore(_daily(spark, sf_dir))
    z = F.col("z_score")
    return out.withColumn(
        "risk_level",
        F.when(z > 2.5, "CRITICAL")
        .when(z > 1.5, "HIGH")
        .when(z > 0.5, "MODERATE")
        .otherwise("LOW"),
    )


@register(
    "win_latest_per_user",
    oracle="""
        SELECT user_id, event_id, ts, event_type
        FROM events
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    tags=("window", "W4"),
)
def win_latest_per_user(spark, sf_dir):
    """W4: latest row per group (ranking window)."""
    ev = table(spark, sf_dir, "events")
    return agg.latest_per_group(
        ev, ["user_id"], [F.desc("ts"), F.desc("event_id")]
    ).select("user_id", "event_id", "ts", "event_type")


@register(
    "win_running_value",
    oracle="""
        SELECT event_id, user_id,
               ROUND(SUM(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total
        FROM events
    """,
    tags=("window",),
)
def win_running_value(spark, sf_dir):
    """Cumulative per-user value (running-total window)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return table(spark, sf_dir, "events").withColumn(
        "running_total", F.round(F.sum("value").over(w), 2)
    ).select("event_id", "user_id", "running_total")


@register(
    "win_rank_types_daily",
    oracle=_DAILY_CTE
    + """
        SELECT day, event_type, cnt, rnk FROM (
            SELECT day, event_type, cnt,
                   DENSE_RANK() OVER (
                       PARTITION BY day ORDER BY cnt DESC, event_type) AS rnk
            FROM daily
        ) WHERE rnk <= 3
    """,
    tags=("window", "rank"),
)
def win_rank_types_daily(spark, sf_dir):
    """Top-3 event types per day via dense_rank (the reference has only
    orderBy+limit top-k; SURVEY §2.5 notes rank as a gap we fill)."""
    w = Window.partitionBy("day").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        _daily(spark, sf_dir)
        .withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
    )
