"""Analytics queries M14-M16: cluster semantic coherence, early-detection
lead time, composite risk score (SURVEY §2.11).

The reference computes these driver-side over pandas frames
(reference: src/analysis/spatial_clustering.py:464-537 coherence;
src/dashboard/app_upgraded.py:631-652 lead time, :658-772 risk score).
Engine form: pure DataFrame plans — pairwise work stays blocked (never
full-corpus O(n²)), scalars like the corpus max-day are broadcast, and
every score is column arithmetic inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, unit
from ..operators.aggregations import exact_sum
from ..registry import register
from ..tables import table


@register(
    "cluster_coherence",
    oracle="""
        WITH sampled AS (
            SELECT label, vec_id, embedding,
                   row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
            FROM embeddings
        ), member AS (
            SELECT label, vec_id, embedding FROM sampled WHERE rn <= 100
        ), pair AS (
            SELECT a.label,
                   list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])) AS cos
            FROM member a JOIN member b
              ON a.label = b.label AND a.vec_id < b.vec_id
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(AVG(cos), 4) AS coherence,
               CASE WHEN AVG(cos) >= 0.7 THEN 'high'
                    WHEN AVG(cos) >= 0.5 THEN 'medium'
                    ELSE 'low' END AS coherence_band
        FROM pair GROUP BY label
    """,
    tags=("analytics", "M14"),
)
def cluster_coherence(spark, sf_dir):
    """M14: per-cluster semantic coherence = mean pairwise cosine of
    member embeddings, capped at 100 members per cluster (the
    reference's sample bound, spatial_clustering.py:495) so pair count
    per cluster is bounded regardless of cluster size — the self-join
    is an equi-join on label, so blocks shuffle independently."""
    w = Window.partitionBy("label").orderBy("vec_id")
    member = (
        table(spark, sf_dir, "embeddings")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .select("label", "vec_id", unit(F.col("embedding")).alias("u"))
    )
    a = member.select(F.col("label"), F.col("vec_id").alias("id_a"), F.col("u").alias("v_a"))
    b = member.select(F.col("label"), F.col("vec_id").alias("id_b"), F.col("u").alias("v_b"))
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    cos = dot(F.col("v_a"), F.col("v_b"))
    return (
        pairs.select("label", cos.alias("cos"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.avg("cos"), 4).alias("coherence"),
            F.when(F.avg("cos") >= 0.7, "high")
            .when(F.avg("cos") >= 0.5, "medium")
            .otherwise("low")
            .alias("coherence_band"),
        )
    )


@register(
    "lead_time_detection",
    oracle="""
        WITH tagged AS (
            SELECT user_id % 5 AS region,
                   CASE WHEN event_type = 'click' THEN 'informal'
                        WHEN event_type = 'purchase' THEN 'official' END AS side,
                   CAST(ts AS DATE) AS day
            FROM events
            WHERE event_type IN ('click', 'purchase')
        ), daily AS (
            SELECT region, side, day, COUNT(*) AS cnt
            FROM tagged GROUP BY region, side, day
        ), with_mean AS (
            SELECT region, side, day, cnt,
                   AVG(cnt) OVER (PARTITION BY region, side) AS mean_cnt
            FROM daily
        ), firsts AS (
            SELECT region, side, MIN(day) AS first_day
            FROM with_mean WHERE cnt > 1.5 * mean_cnt
            GROUP BY region, side
        )
        SELECT region,
               MAX(CASE WHEN side = 'informal' THEN first_day END) AS informal_first,
               MAX(CASE WHEN side = 'official' THEN first_day END) AS official_first,
               CAST(date_diff('day',
                    MAX(CASE WHEN side = 'informal' THEN first_day END),
                    MAX(CASE WHEN side = 'official' THEN first_day END)) AS BIGINT)
                   AS lead_days
        FROM firsts GROUP BY region
    """,
    tags=("analytics", "M15"),
)
def lead_time_detection(spark, sf_dir):
    """M15: early-detection lead time — first day each (region, side)
    daily series exceeds 1.5x its own mean; lead = days the informal
    signal (clicks) precedes the official one (purchases). Window mean
    per (region, side) + min-day filter, mirroring
    app_upgraded.py:631-652 without the driver-side pandas pass."""
    ev = table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        (F.col("user_id") % 5).alias("region"),
        F.when(F.col("event_type") == "click", "informal")
        .otherwise("official")
        .alias("side"),
        F.to_date("ts").alias("day"),
    )
    daily = tagged.groupBy("region", "side", "day").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("region", "side")
    firsts = (
        daily.withColumn("mean_cnt", F.avg("cnt").over(w))
        .filter(F.col("cnt") > 1.5 * F.col("mean_cnt"))
        .groupBy("region", "side")
        .agg(F.min("day").alias("first_day"))
    )
    informal_first = F.max(F.when(F.col("side") == "informal", F.col("first_day")))
    official_first = F.max(F.when(F.col("side") == "official", F.col("first_day")))
    return firsts.groupBy("region").agg(
        informal_first.alias("informal_first"),
        official_first.alias("official_first"),
        F.datediff(official_first, informal_first).cast("long").alias("lead_days"),
    )


@register(
    "risk_composite",
    oracle="""
        WITH ev AS (
            SELECT user_id % 5 AS region, event_type, value, CAST(ts AS DATE) AS day
            FROM events
        ), mx AS (
            SELECT MAX(day) AS max_day FROM ev
        ), agg AS (
            SELECT region, event_type,
                   COUNT(*) AS total,
                   CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
                       / COUNT(*) AS sev,
                   COUNT(*) FILTER (WHERE day > max_day - 7) AS last7,
                   COUNT(*) FILTER (WHERE day > max_day - 14 AND day <= max_day - 7)
                       AS prior7
            FROM ev CROSS JOIN mx
            GROUP BY region, event_type
        ), scored AS (
            SELECT region, event_type,
                   CAST(total AS BIGINT) AS total,
                   CAST(last7 AS BIGINT) AS last7,
                   CAST(prior7 AS BIGINT) AS prior7,
                   ROUND(LEAST(100.0,
                       30.0 * LEAST(CAST(last7 AS DOUBLE)
                                    / GREATEST(CAST(prior7 AS DOUBLE), 1.0), 2.0) / 2.0
                     + 40.0 * LEAST(CAST(last7 AS DOUBLE) / 50.0, 1.0)
                     + 20.0 * LEAST(sev / 20.0, 1.0)
                     + 10.0 * LEAST(CAST(total AS DOUBLE) / 1000.0, 1.0)), 2) AS risk_score
            FROM agg
        )
        SELECT region, event_type, total, last7, prior7, risk_score,
               CASE WHEN risk_score >= 75 THEN 'critical'
                    WHEN risk_score >= 60 THEN 'high'
                    WHEN risk_score >= 40 THEN 'moderate'
                    ELSE 'low' END AS risk_band
        FROM scored
    """,
    tags=("analytics", "M16"),
)
def risk_composite(spark, sf_dir):
    """M16: composite risk score per (region, event_type) — weighted
    trend(30) + recent-volume(40) + severity(20) + density(10), banded
    at 40/60/75 (app_upgraded.py:658-772). The corpus max-day scalar is
    a 1-row broadcast cross join, so the whole plan is one scan + one
    shuffle on the group keys."""
    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 5).alias("region"),
        "event_type",
        "value",
        F.to_date("ts").alias("day"),
    )
    mx = ev.agg(F.max("day").alias("max_day"))
    agg = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("region", "event_type")
        .agg(
            F.count("*").cast("long").alias("total"),
            # exact decimal sum -> one deterministic double division: a
            # double AVG's order-dependent last bits can flip the rounded
            # risk_score on a boundary (an sf1 audit's bug class)
            (
                F.expr(exact_sum("value")).cast("double")
                / F.count(F.lit(1))
            ).alias("sev"),
            F.count(F.when(F.col("day") > F.date_sub(F.col("max_day"), 7), 1))
            .cast("long")
            .alias("last7"),
            F.count(
                F.when(
                    (F.col("day") > F.date_sub(F.col("max_day"), 14))
                    & (F.col("day") <= F.date_sub(F.col("max_day"), 7)),
                    1,
                )
            )
            .cast("long")
            .alias("prior7"),
        )
    )
    trend = F.least(
        F.col("last7").cast("double") / F.greatest(F.col("prior7").cast("double"), F.lit(1.0)),
        F.lit(2.0),
    )
    risk = F.round(
        F.least(
            F.lit(100.0),
            30.0 * trend / 2.0
            + 40.0 * F.least(F.col("last7").cast("double") / 50.0, F.lit(1.0))
            + 20.0 * F.least(F.col("sev") / 20.0, F.lit(1.0))
            + 10.0 * F.least(F.col("total").cast("double") / 1000.0, F.lit(1.0)),
        ),
        2,
    )
    scored = agg.withColumn("risk_score", risk)
    return scored.select(
        "region",
        "event_type",
        "total",
        "last7",
        "prior7",
        "risk_score",
        F.when(F.col("risk_score") >= 75, "critical")
        .when(F.col("risk_score") >= 60, "high")
        .when(F.col("risk_score") >= 40, "moderate")
        .otherwise("low")
        .alias("risk_band"),
    )
