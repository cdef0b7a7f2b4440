"""Analytics extensions: Holt's linear-trend smoothing (a true
sequential recurrence, the engine's applyInPandas vs an exact
recursive-CTE oracle — same pattern as grid-DBSCAN), cumulative
distinct users via the first-touch trick, the full ranking-function
suite, multi-grain GROUPING SETS, and per-label embedding centroids
(drift profiling for an embedding corpus).

Scale notes: Holt runs per-group sequentially — inherently so — but
groups (series) are tiny next to raw events, and applyInPandas
shuffles only the pre-aggregated series. Cumulative-distinct is the
canonical rewrite: an expanding COUNT(DISTINCT) window holds O(users)
state per day; first-touch (min day per user, then a running sum of
per-day first-touch counts) is one groupBy over users plus a cumsum
over days — linear, mergeable, and exactly equal. Centroids shuffle
(label, dim) partial sums — dims x labels rows — never whole vectors.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.aggregations import cents, exact_sum
from ..registry import register
from ..tables import table

_ALPHA = 0.5  # Holt level gain
_BETA = 0.3  # Holt trend gain


@register(
    "ts_seasonal_dow_forecast",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS DOUBLE) AS y
            FROM events GROUP BY 1, 2
        ), base AS (
            SELECT event_type,
                   datediff('day', DATE '1970-01-01', day) AS idx,
                   datediff('day', DATE '1970-01-01', day) % 7 AS dow,
                   y
            FROM daily
        ), dowm AS (
            SELECT event_type, dow, AVG(y) AS dow_mean FROM base GROUP BY 1, 2
        ), gm AS (
            SELECT event_type, AVG(y) AS gmean FROM base GROUP BY 1
        ), des AS (
            SELECT b.event_type, b.idx, b.y - (d.dow_mean - g.gmean) AS z
            FROM base b
            JOIN dowm d ON b.event_type = d.event_type AND b.dow = d.dow
            JOIN gm g ON b.event_type = g.event_type
        ), fit AS (
            SELECT event_type,
                   regr_slope(z, CAST(idx AS DOUBLE)) AS slope,
                   regr_intercept(z, CAST(idx AS DOUBLE)) AS icpt,
                   MAX(idx) AS mx
            FROM des GROUP BY 1
        ), fut AS (
            SELECT f.event_type, f.slope, f.icpt,
                   CAST(h.h AS BIGINT) AS horizon_day,
                   f.mx + h.h AS fidx,
                   (f.mx + h.h) % 7 AS dow
            FROM fit f CROSS JOIN
                 (SELECT CAST(range AS BIGINT) + 1 AS h FROM range(7)) h
        )
        SELECT u.event_type,
               DATE '1970-01-01' + CAST(u.fidx AS INTEGER) AS forecast_day,
               u.horizon_day,
               ROUND(GREATEST(0.0, u.icpt + u.slope * u.fidx
                              + (d.dow_mean - g.gmean)), 4) AS predicted
        FROM fut u
        JOIN dowm d ON u.event_type = d.event_type AND u.dow = d.dow
        JOIN gm g ON u.event_type = g.event_type
    """,
    tags=("timeseries", "forecast", "seasonal", "M10"),
)
def ts_seasonal_dow_forecast(spark, sf_dir):
    """M10's weekly-seasonality niche (Prophet's headline component for
    disease surveillance) as a closed-form additive model: day-of-week
    means + OLS trend on the deseasonalized daily series, 7-day
    horizon. All native aggregates — see
    operators/forecast.py:seasonal_dow_forecast."""
    from ..operators.forecast import seasonal_dow_forecast

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.withColumn("day", F.date_trunc("day", "ts").cast("date"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("cnt"))
    )
    return seasonal_dow_forecast(daily)


@register(
    "ts_holt_linear",
    oracle=f"""
        WITH RECURSIVE s AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS DOUBLE) AS x,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY CAST(date_trunc('day', ts) AS DATE)) AS t
            FROM events GROUP BY 1, 2
        ),
        x2 AS (SELECT event_type, x AS xx FROM s WHERE t = 2),
        h AS (
            SELECT s.event_type, s.t, s.day, s.x,
                   s.x AS level,
                   x2.xx - s.x AS trend
            FROM s JOIN x2 USING (event_type) WHERE s.t = 1
            UNION ALL
            SELECT s.event_type, s.t, s.day, s.x,
                   {_ALPHA} * s.x + {1 - _ALPHA} * (h.level + h.trend) AS level,
                   {_BETA} * (({_ALPHA} * s.x + {1 - _ALPHA} * (h.level + h.trend))
                              - h.level) + {1 - _BETA} * h.trend AS trend
            FROM h JOIN s ON s.event_type = h.event_type AND s.t = h.t + 1
        )
        SELECT event_type, day,
               CAST(x AS BIGINT) AS n_events,
               level, trend
        FROM h
    """,
    tags=("timeseries", "forecast", "pandas-udf", "recursive"),
)
def ts_holt_linear(spark, sf_dir):
    """Holt's double exponential smoothing over the daily series per
    event_type: level_t = a*x_t + (1-a)(level + trend), trend_t =
    b*(level_t - level) + (1-b)*trend, initialized level_1 = x_1,
    trend_1 = x_2 - x_1. A genuine sequential recurrence — not
    window-expressible — so the engine runs it as an applyInPandas
    kernel over the pre-aggregated series (one shuffle of days x types
    rows, never raw events) while the oracle replays the identical
    IEEE arithmetic as a recursive CTE; both sides evaluate the same
    left-associated expression, so the doubles agree bit-for-bit and
    are emitted RAW (a 4-dp ROUND flips at representational halves:
    Spark rounds the exact decimal expansion, DuckDB rounds via a
    float multiply — the gate's own normalization rounds both sides
    identically instead)."""
    import pandas as pd

    e = table(spark, sf_dir, "events")
    s = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("x"))

    alpha, beta = _ALPHA, _BETA

    def holt(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        xs = [float(v) for v in pdf["x"]]
        levels, trends = [], []
        level = xs[0]
        trend = xs[1] - xs[0]
        levels.append(level)
        trends.append(trend)
        for x in xs[1:]:
            new_level = alpha * x + (1 - alpha) * (level + trend)
            new_trend = beta * (new_level - level) + (1 - beta) * trend
            level, trend = new_level, new_trend
            levels.append(level)
            trends.append(trend)
        pdf["level"] = levels
        pdf["trend"] = trends
        return pdf

    out = s.groupBy("event_type").applyInPandas(
        holt, "event_type string, day date, x double, level double, trend double"
    )
    return out.select(
        "event_type",
        "day",
        F.col("x").cast("long").alias("n_events"),
        "level",
        "trend",
    )


@register(
    "win_cumulative_distinct",
    oracle="""
        WITH f AS (
            SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_day
            FROM events GROUP BY user_id
        ),
        nd AS (SELECT first_day AS day, COUNT(*) AS n_new FROM f GROUP BY first_day),
        days AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events
        )
        SELECT d.day,
               CAST(COALESCE(nd.n_new, 0) AS BIGINT) AS n_new_users,
               CAST(SUM(COALESCE(nd.n_new, 0)) OVER (
                   ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_distinct_users
        FROM days d LEFT JOIN nd ON nd.day = d.day
    """,
    tags=("window", "distinct", "incremental"),
)
def win_cumulative_distinct(spark, sf_dir):
    """Cumulative distinct users per day — the rewrite that makes an
    expanding COUNT(DISTINCT) window scale: a user contributes to the
    cumulative count exactly on their first-touch day, so min(day) per
    user + a running sum of per-day first-touch counts gives the exact
    expanding distinct with one user-keyed groupBy and a cumsum over
    the (tiny) day spine — no per-day distinct state, and the partials
    merge, so it maintains incrementally like agg_incremental_merge."""
    e = table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    nd = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    days = e.select("day").distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        days.join(nd, "day", "left")
        .withColumn("n_new", F.coalesce(F.col("n_new"), F.lit(0)))
        .select(
            "day",
            F.col("n_new").cast("long").alias("n_new_users"),
            F.sum("n_new").over(w).cast("long").alias("cum_distinct_users"),
        )
    )


@register(
    "win_rank_suite",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cdist,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile
        FROM s
        WINDOW w AS (PARTITION BY event_type ORDER BY cnt DESC, day)
    """,
    tags=("window", "rank"),
)
def win_rank_suite(spark, sf_dir):
    """The complete ranking-function family over each type's daily
    volume: rank / dense_rank / percent_rank / cume_dist / ntile(4),
    one window spec (one shuffle + one sort serves all five — Spark
    collapses same-spec window functions into a single Window node).
    percent_rank and cume_dist are emitted raw: they are exact small-
    integer rationals, identical doubles in any engine. Full (cnt DESC,
    day) tie-break keeps every function deterministic."""
    e = table(spark, sf_dir, "events")
    s = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("day"))
    return s.select(
        "event_type",
        "day",
        F.col("cnt").cast("long").alias("cnt"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT event_type,
               CAST(date_part('dow', ts) AS BIGINT) AS dow,
               CAST(GROUPING(event_type, CAST(date_part('dow', ts) AS BIGINT))
                    AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY GROUPING SETS ((event_type),
                                (CAST(date_part('dow', ts) AS BIGINT)),
                                ())
    """,
    tags=("agg", "grouping-sets"),
)
def agg_grouping_sets(spark, sf_dir):
    """Non-hierarchical multi-grain aggregation: by event_type, by
    day-of-week, and the grand total in ONE pass over the fact table —
    GROUPING SETS where rollup/cube (already covered) can't express
    the grain list. grouping_id disambiguates the NULL group keys.
    One shuffle; Spark expands the sets map-side, so the fact scan
    happens once, not once per grain."""
    e = table(spark, sf_dir, "events").withColumn(
        "dow", (F.dayofweek("ts") - 1).cast("long")
    )
    return e.groupingSets([["event_type"], ["dow"], []], "event_type", "dow").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").cast("long").alias("n_events"),
        F.round(F.expr(exact_sum("value")), 2)
            .cast("double")
            .alias("sum_value"),
    )


@register(
    "emb_label_centroids",
    oracle="""
        WITH d AS (
            SELECT label,
                   generate_subscripts(embedding, 1) AS i,
                   unnest(CAST(embedding AS DOUBLE[])) AS v
            FROM embeddings
        ),
        lc AS (SELECT label, i, AVG(v) AS c FROM d GROUP BY label, i),
        gc AS (SELECT i, AVG(v) AS g FROM d GROUP BY i),
        j AS (
            SELECT lc.label,
                   SUM(lc.c * gc.g) AS dot,
                   SUM(lc.c * lc.c) AS nl,
                   SUM(gc.g * gc.g) AS ng
            FROM lc JOIN gc USING (i) GROUP BY lc.label
        ),
        n AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label)
        SELECT j.label,
               CAST(n.n_vecs AS BIGINT) AS n_vecs,
               ROUND(sqrt(nl), 4) AS centroid_norm,
               ROUND(dot / (sqrt(nl) * sqrt(ng)), 4) AS cos_to_global
        FROM j JOIN n ON j.label = n.label
    """,
    tags=("embedding", "centroid", "drift"),
)
def emb_label_centroids(spark, sf_dir):
    """Per-label embedding centroids with their cosine to the global
    centroid — the drift/cluster-quality profile of an embedding
    corpus (a label whose centroid swings away from global signals
    distribution shift). The plan explodes vectors to (label, dim,
    value) and aggregates partial sums per (label, dim): the shuffle
    payload is labels x dims rows — never raw vectors — and the final
    cosine combines dim-indexed partials, so at 100 TB this is one
    map-side-combined pass over the corpus."""
    emb = table(spark, sf_dir, "embeddings")
    d = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v")
    )
    lc = d.groupBy("label", "i").agg(F.avg("v").alias("c"))
    gc = d.groupBy("i").agg(F.avg("v").alias("g"))
    j = (
        lc.join(F.broadcast(gc), "i")
        .groupBy("label")
        .agg(
            F.sum(F.col("c") * F.col("g")).alias("dot"),
            F.sum(F.col("c") * F.col("c")).alias("nl"),
            F.sum(F.col("g") * F.col("g")).alias("ng"),
        )
    )
    n = emb.groupBy("label").agg(F.count("*").cast("long").alias("n_vecs"))
    return (
        j.join(n, "label")
        .select(
            "label",
            "n_vecs",
            F.round(F.sqrt("nl"), 4).alias("centroid_norm"),
            F.round(F.col("dot") / (F.sqrt("nl") * F.sqrt("ng")), 4).alias(
                "cos_to_global"
            ),
        )
    )


_CUSUM_K = 2.0
_CUSUM_H = 15.0


@register(
    "ts_cusum_shift",
    oracle=f"""
        WITH RECURSIVE s AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS DOUBLE) AS x,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY CAST(date_trunc('day', ts) AS DATE)) AS t
            FROM events GROUP BY 1, 2
        ),
        mu AS (SELECT event_type, AVG(x) AS m FROM s GROUP BY 1),
        c AS (
            SELECT s.event_type, s.t, s.day, s.x,
                   GREATEST(0.0, s.x - mu.m - {_CUSUM_K}) AS cs
            FROM s JOIN mu USING (event_type) WHERE s.t = 1
            UNION ALL
            SELECT s.event_type, s.t, s.day, s.x,
                   GREATEST(0.0, c.cs + s.x - mu.m - {_CUSUM_K}) AS cs
            FROM c
            JOIN s ON s.event_type = c.event_type AND s.t = c.t + 1
            JOIN mu ON mu.event_type = s.event_type
        )
        SELECT event_type, day, CAST(x AS BIGINT) AS n_events,
               cs AS cusum,
               cs > {_CUSUM_H} AS is_shift
        FROM c
    """,
    tags=("timeseries", "changepoint", "pandas-udf", "recursive"),
)
def ts_cusum_shift(spark, sf_dir):
    """One-sided CUSUM level-shift detection over the daily series per
    type: s_t = max(0, s_(t-1) + x_t - mean - k), flag when s_t exceeds
    h — the classic sequential change-point statistic (catches a
    sustained +k drift the per-day z-score never flags). A genuine
    recurrence (the max(0, .) clamp defeats any window rewrite), so it
    runs as an applyInPandas kernel over the pre-aggregated series
    while the oracle replays the identical left-associated IEEE
    arithmetic as a recursive CTE; the daily series is integer-valued
    so the per-type mean is exact and the doubles agree bit-for-bit
    (emitted raw, same device as ts_holt_linear)."""
    import pandas as pd

    e = table(spark, sf_dir, "events")
    s = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    mu = s.groupBy("event_type").agg(F.avg("x").alias("m"))
    joined = s.join(F.broadcast(mu), "event_type")

    k, h = _CUSUM_K, _CUSUM_H

    def cusum(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        m = float(pdf["m"].iloc[0])
        cs_list = []
        cs = 0.0
        for x in [float(v) for v in pdf["x"]]:
            cs = max(0.0, cs + x - m - k)
            cs_list.append(cs)
        pdf["cusum"] = cs_list
        return pdf

    out = joined.groupBy("event_type").applyInPandas(
        cusum, "event_type string, day date, x double, m double, cusum double"
    )
    return out.select(
        "event_type",
        "day",
        F.col("x").cast("long").alias("n_events"),
        "cusum",
        (F.col("cusum") > h).alias("is_shift"),
    )


@register(
    "agg_rfm_segments",
    oracle="""
        WITH mx AS (
            SELECT CAST(date_trunc('day', MAX(ts)) AS DATE) AS max_day
            FROM events
        ),
        u AS (
            SELECT user_id,
                   date_diff('day',
                             CAST(date_trunc('day', MAX(ts)) AS DATE),
                             (SELECT max_day FROM mx)) AS recency_days,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                       AS monetary_cents
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(recency_days AS BIGINT) AS recency_days,
               frequency, monetary_cents,
               CAST(NTILE(4) OVER (ORDER BY recency_days, user_id) AS BIGINT)
                   AS r_score,
               CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
                   AS f_score,
               CAST(NTILE(4) OVER (ORDER BY monetary_cents DESC, user_id)
                    AS BIGINT) AS m_score
        FROM u
    """,
    tags=("analytics", "rfm", "segmentation"),
)
def agg_rfm_segments(spark, sf_dir):
    """RFM user segmentation: recency (days since last event vs corpus
    max day), frequency, exact-cents monetary, each quartile-scored
    with NTILE(4) semantics under a user_id tiebreak so the buckets are
    deterministic on both engines. The oracle states the naive form
    (three global NTILE(4) windows); the engine computes the SAME
    quartiles with the bucketed-rank device (operators/ranking.py)
    — users scale linearly with the corpus
    (15,000 x sf), so an unpartitioned ntile would funnel every user
    row through one task, three times. Each dimension range-buckets by
    a coarse monotone key (recency day / frequency / $100 monetary
    band), ranks locally per bucket, adds prefix-summed bucket offsets
    (a window over the bucket frame, not the user frame), and maps the
    global rank to its quartile with exact integer `div` arithmetic —
    value-identical to NTILE(4) by construction."""
    from ..operators.ranking import bucketed_global_rank, ntile_from_rank

    ev = table(spark, sf_dir, "events")
    mx = ev.agg(
        F.max(F.date_trunc("day", "ts").cast("date")).alias("max_day")
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.date_trunc("day", "ts").cast("date")).alias("last_day"),
            F.count("*").cast("long").alias("frequency"),
            F.expr(f"sum({cents('value')})").cast("long").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff("max_day", "last_day").cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    # one bucketed global rank per RFM dimension; the bucket key is a
    # non-decreasing coarsening of each NTILE's ORDER BY. Lineage is
    # checkpointed between stages so each stage's bounded offsets
    # collect materializes the previous stage exactly once instead of
    # re-running the upstream windows per control-plane job.
    u = bucketed_global_rank(
        u.localCheckpoint(eager=False),
        F.col("recency_days"),
        [F.asc("recency_days"), F.asc("user_id")],
        rank_col="rn_r",
        total_col="n_users",
    )
    u = bucketed_global_rank(
        u.localCheckpoint(eager=False),
        -F.col("frequency"),
        [F.desc("frequency"), F.asc("user_id")],
        rank_col="rn_f",
    )
    u = bucketed_global_rank(
        u.localCheckpoint(eager=False),
        -F.expr("monetary_cents div 10000"),
        [F.desc("monetary_cents"), F.asc("user_id")],
        rank_col="rn_m",
    )
    return u.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        ntile_from_rank("rn_r").alias("r_score"),
        ntile_from_rank("rn_f").alias("f_score"),
        ntile_from_rank("rn_m").alias("m_score"),
    )


@register(
    "ts_conformal_interval",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS DOUBLE) AS cnt
            FROM events GROUP BY 1, 2
        ), idx AS (
            SELECT event_type, day, cnt,
                   CAST(datediff('day',
                        MIN(day) OVER (PARTITION BY event_type), day)
                        AS DOUBLE) AS i
            FROM daily
        ), fit AS (
            SELECT event_type,
                   regr_slope(cnt, i) AS slope,
                   regr_intercept(cnt, i) AS icept,
                   CAST(COUNT(*) AS BIGINT) AS n_days
            FROM idx GROUP BY 1
        ), resid AS (
            SELECT x.event_type, f.slope, f.icept, f.n_days,
                   ABS(x.cnt - (f.icept + f.slope * x.i)) AS ar
            FROM idx x JOIN fit f USING (event_type)
        ), width AS (
            SELECT event_type, MAX(slope) AS slope, MAX(icept) AS icept,
                   MAX(n_days) AS n_days,
                   percentile_cont(0.9) WITHIN GROUP (ORDER BY ar) AS w
            FROM resid GROUP BY 1
        )
        SELECT r.event_type,
               ROUND(w.slope, 6) AS slope,
               ROUND(w.icept, 6) AS intercept,
               w.n_days,
               ROUND(w.w, 6) AS q90_abs_resid,
               ROUND(CAST(SUM(CASE WHEN ROUND(r.ar, 6) <= ROUND(w.w, 6)
                                   THEN 1 ELSE 0 END) AS DOUBLE) /
                     COUNT(*), 6) AS coverage
        FROM resid r JOIN width w USING (event_type)
        GROUP BY 1, 2, 3, 4, 5
    """,
    tags=("timeseries", "forecast", "conformal"),
)
def ts_conformal_interval(spark, sf_dir):
    """Split-conformal-style forecast intervals, fully declarative: OLS
    trend per event_type via regr_slope/regr_intercept over the daily
    series, interval half-width = the 0.9 quantile of absolute
    residuals, and the realized coverage of that interval on the
    history (>= 0.9 by the quantile's definition, modulo ties). This is
    M10-M12's uncertainty story — the piece the reference's Prophet
    CSV output carries as yhat_lower/yhat_upper — as pure SQL-shaped
    aggregation: two passes over a days x types series table,
    microscopic next to the raw events scan that builds it."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    w0 = Window.partitionBy("event_type")
    idx = daily.withColumn(
        "i", F.datediff(F.col("day"), F.min("day").over(w0)).cast("double")
    )
    fit = idx.groupBy("event_type").agg(
        F.regr_slope(F.col("cnt"), F.col("i")).alias("slope"),
        F.regr_intercept(F.col("cnt"), F.col("i")).alias("icept"),
        F.count("*").cast("long").alias("n_days"),
    )
    resid = idx.join(F.broadcast(fit), "event_type").select(
        "event_type",
        "slope",
        "icept",
        "n_days",
        F.abs(F.col("cnt") - (F.col("icept") + F.col("slope") * F.col("i"))).alias("ar"),
    )
    width = resid.groupBy("event_type").agg(
        F.max("slope").alias("slope"),
        F.max("icept").alias("icept"),
        F.max("n_days").alias("n_days"),
        F.expr("percentile(ar, 0.9)").alias("w"),
    )
    cov = F.when(F.round(F.col("ar"), 6) <= F.round(F.col("w"), 6), 1.0).otherwise(0.0)
    return (
        resid.select("event_type", "ar")
        .join(F.broadcast(width), "event_type")
        .groupBy(
            "event_type",
            F.round(F.col("slope"), 6).alias("slope"),
            F.round(F.col("icept"), 6).alias("intercept"),
            "n_days",
            F.round(F.col("w"), 6).alias("q90_abs_resid"),
        )
        .agg(F.round(F.sum(cov) / F.count("*"), 6).alias("coverage"))
    )


@register(
    "ts_seasonal_strength",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   dayofweek(CAST(date_trunc('day', ts) AS DATE)) AS dow,
                   CAST(COUNT(*) AS DOUBLE) AS cnt
            FROM events GROUP BY 1, 2, 3
        ), means AS (
            SELECT event_type, dow, AVG(cnt) AS dow_mean
            FROM daily GROUP BY 1, 2
        ), overall AS (
            SELECT event_type, AVG(cnt) AS g_mean
            FROM daily GROUP BY 1
        )
        SELECT d.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(MAX(o.g_mean), 6) AS grand_mean,
               ROUND(1.0 - SUM(POW(d.cnt - m.dow_mean, 2)) /
                     SUM(POW(d.cnt - o.g_mean, 2)), 6) AS seasonal_strength
        FROM daily d
        JOIN means m USING (event_type, dow)
        JOIN overall o USING (event_type)
        GROUP BY 1
    """,
    tags=("timeseries", "seasonality"),
)
def ts_seasonal_strength(spark, sf_dir):
    """Day-of-week seasonal strength: the R-squared of the dow-means
    model — 1 - SS_within_dow / SS_total over the daily series. The
    decision metric for whether the weekly-seasonal forecast kernel
    (forecast_dow_seasonal) should run at all for a series; near 0
    means dow explains nothing and the linear/Holt kernels suffice.
    Two aggregation passes over the days x types series table."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.count("*").cast("double").alias("cnt"))
    daily = daily.withColumn("dow", F.dayofweek("day"))
    means = daily.groupBy("event_type", "dow").agg(F.avg("cnt").alias("dow_mean"))
    overall = daily.groupBy("event_type").agg(F.avg("cnt").alias("g_mean"))
    j = daily.join(means, ["event_type", "dow"]).join(
        F.broadcast(overall), "event_type"
    )
    return j.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.max("g_mean"), 6).alias("grand_mean"),
        F.round(
            F.lit(1.0)
            - F.sum(F.pow(F.col("cnt") - F.col("dow_mean"), 2))
            / F.sum(F.pow(F.col("cnt") - F.col("g_mean"), 2)),
            6,
        ).alias("seasonal_strength"),
    )


@register(
    "ts_walkforward_backtest",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS DOUBLE) AS cnt
            FROM events GROUP BY 1, 2
        ), idx AS (
            SELECT event_type, day, cnt,
                   CAST(datediff('day',
                        MIN(day) OVER (PARTITION BY event_type), day)
                        AS DOUBLE) AS i,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day DESC) AS rn_desc
            FROM daily
        ), cutoffs AS (
            SELECT event_type, i AS ci, cnt AS actual
            FROM idx WHERE rn_desc <= 5
        ), fits AS (
            SELECT t.event_type, c.ci, c.actual,
                   regr_slope(t.cnt, t.i) AS slope,
                   regr_intercept(t.cnt, t.i) AS icept,
                   CAST(COUNT(*) AS BIGINT) AS n_train
            FROM idx t
            JOIN cutoffs c ON c.event_type = t.event_type AND t.i < c.ci
            GROUP BY 1, 2, 3
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_folds,
               ROUND(AVG(ABS((icept + slope * ci) - actual)
                         / actual), 6) AS mape,
               ROUND(MAX(ABS((icept + slope * ci) - actual)
                         / actual), 6) AS worst_ape
        FROM fits GROUP BY 1
    """,
    tags=("timeseries", "forecast", "backtest"),
)
def ts_walkforward_backtest(spark, sf_dir):
    """Walk-forward (rolling-origin) backtest of the linear-trend
    forecaster: for each of the last 5 days, fit on strictly earlier
    days only and predict that day; report per-type MAPE and worst
    APE — the honest out-of-sample accuracy number a forecasting stage
    must publish (in-sample fit error flatters any model). The
    fold x train-row fan-out is a per-type theta join on the day
    index — folds x days rows per type, microscopic against the events
    scan; regr_slope aggregates it straight back down."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    w0 = Window.partitionBy("event_type")
    wd = Window.partitionBy("event_type").orderBy(F.desc("day"))
    idx = daily.withColumn(
        "i", F.datediff(F.col("day"), F.min("day").over(w0)).cast("double")
    ).withColumn("rn_desc", F.row_number().over(wd))
    cutoffs = idx.filter(F.col("rn_desc") <= 5).select(
        "event_type", F.col("i").alias("ci"), F.col("cnt").alias("actual")
    )
    train = idx.select("event_type", "i", "cnt")
    fits = (
        train.join(F.broadcast(cutoffs), "event_type")
        .filter(F.col("i") < F.col("ci"))
        .groupBy("event_type", "ci", "actual")
        .agg(
            F.regr_slope(F.col("cnt"), F.col("i")).alias("slope"),
            F.regr_intercept(F.col("cnt"), F.col("i")).alias("icept"),
        )
    )
    ape = F.abs((F.col("icept") + F.col("slope") * F.col("ci")) - F.col("actual")) / F.col(
        "actual"
    )
    return fits.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_folds"),
        F.round(F.avg(ape), 6).alias("mape"),
        F.round(F.max(ape), 6).alias("worst_ape"),
    )


@register(
    "skyline_user_activity",
    oracle="""
        WITH m AS (
            SELECT user_id,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
            FROM events GROUP BY user_id
        )
        SELECT u.user_id,
               CAST(u.n_events AS BIGINT) AS n_events,
               CAST(u.n_days AS BIGINT) AS n_days
        FROM m u
        WHERE NOT EXISTS (
            SELECT 1 FROM m v
            WHERE v.n_events >= u.n_events AND v.n_days >= u.n_days
              AND (v.n_events > u.n_events OR v.n_days > u.n_days)
        )
    """,
    tags=("analytics", "skyline", "pareto"),
)
def skyline_user_activity(spark, sf_dir):
    """2-D Pareto frontier (skyline): users not dominated on
    (n_events, n_active_days). The oracle is the quadratic NOT EXISTS
    definition; the engine uses the linear sweep rewrite — group users
    by the x-dim, take each group's max y, running-max those over
    descending x, and a user is on the frontier iff no strictly-higher
    x group reaches their y (case A) and nobody in their own x group
    strictly exceeds their y (case B). Both dims are integers, so group
    keys and comparisons can never drift on a float ulp. Scale: one
    user-keyed groupBy; the sweep runs over DISTINCT x values (bounded,
    tiny) — the quadratic dominance test never materializes."""
    m = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
        )
    )
    groups = m.groupBy("n_events").agg(F.max("n_days").alias("gmax"))
    wprev = Window.orderBy(F.desc("n_events")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    groups = groups.withColumn("prev_max", F.max("gmax").over(wprev))
    return (
        m.join(F.broadcast(groups), "n_events")
        .filter(
            (F.col("prev_max").isNull() | (F.col("prev_max") < F.col("n_days")))
            & (F.col("gmax") == F.col("n_days"))
        )
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_days").cast("long").alias("n_days"),
        )
    )


_HW_ALPHA, _HW_BETA, _HW_GAMMA = 0.5, 0.3, 0.2
_HW_M = 7


def _hw_oracle() -> str:
    """Holt-Winters additive recursion as a recursive CTE that carries
    the 7-slot seasonal state as columns s0..s6 — generated so the
    slot-update CASE arms stay mechanical."""
    a, b, g, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_M
    slots = ", ".join(f"s{j}" for j in range(m))
    sp = (
        "CASE (s.t - 1) % 7 "
        + " ".join(f"WHEN {j} THEN h.s{j}" for j in range(m))
        + " END"
    )
    new_level = f"{a} * (s.x - ({sp})) + {1 - a} * (h.level + h.trend)"
    new_slots = ", ".join(
        f"CASE WHEN (s.t - 1) % 7 = {j} "
        f"THEN {g} * (s.x - ({new_level})) + {1 - g} * h.s{j} "
        f"ELSE h.s{j} END AS s{j}"
        for j in range(m)
    )
    init_slots = ", ".join(
        f"i.x{j + 1} - i.l0 AS s{j}" for j in range(m)
    )
    init_cols = ", ".join(
        f"MAX(CASE WHEN t = {j + 1} THEN x END) AS x{j + 1}" for j in range(m)
    )
    return f"""
        WITH RECURSIVE s AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS DOUBLE) AS x,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY CAST(date_trunc('day', ts) AS DATE)) AS t
            FROM events GROUP BY 1, 2
        ),
        init AS (
            SELECT event_type,
                   AVG(CASE WHEN t <= {m} THEN x END) AS l0,
                   {init_cols}
            FROM s GROUP BY event_type
        ),
        h AS (
            SELECT s.event_type, s.t, s.day, s.x,
                   i.l0 AS level,
                   CAST(0.0 AS DOUBLE) AS trend,
                   {init_slots},
                   CAST(NULL AS DOUBLE) AS fitted
            FROM s JOIN init i USING (event_type) WHERE s.t = {m}
            UNION ALL
            SELECT s.event_type, s.t, s.day, s.x,
                   {new_level} AS level,
                   {b} * (({new_level}) - h.level) + {1 - b} * h.trend AS trend,
                   {new_slots},
                   h.level + h.trend + ({sp}) AS fitted
            FROM h JOIN s ON s.event_type = h.event_type AND s.t = h.t + 1
        )
        SELECT event_type, day,
               CAST(x AS BIGINT) AS n_events,
               fitted, level
        FROM h WHERE t > {m}
    """


@register(
    "ts_holt_winters",
    oracle=_hw_oracle(),
    tags=("timeseries", "forecast", "seasonal", "pandas-udf", "recursive", "M10"),
    bench=True,
)
def ts_holt_winters(spark, sf_dir):
    """Holt-Winters ADDITIVE triple smoothing with period-7 seasonality
    — the true recursive form of Prophet's weekly-seasonality niche
    (reference: src/analysis/disease_outbreak_forecaster.py:56-126),
    completing the M10 ladder above the closed-form dow-offset model
    (ts_seasonal_dow_forecast) and trend-only Holt (ts_holt_linear).

    Init at t=7: level = mean of the first week, trend = 0, seasonal
    slot s_j = x_{{j+1}} - level. For t >= 8, with phase p = (t-1) % 7:
    fitted = level + trend + s_p; level' = a(x - s_p) + (1-a)(level +
    trend); trend' = b(level' - level) + (1-b) trend; s_p' = g(x -
    level') + (1-g) s_p. Phase indexes the OBSERVATION sequence (gaps
    compress), identically on both engines. The applyInPandas kernel
    and the recursive-CTE oracle evaluate the same left-associated IEEE
    expressions, so doubles are emitted raw and agree bit-for-bit (the
    ts_holt_linear device, with the 7-slot state carried as columns).
    Scale: one shuffle of the pre-aggregated days x types series; the
    sequential recursion touches series rows only, never raw events."""
    import pandas as pd

    e = table(spark, sf_dir, "events")
    s = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("x"))

    a, b, g, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_M

    def hw(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        n = len(pdf)
        if n < m + 1:  # series too short to initialize: no output rows
            return pd.DataFrame(
                columns=["event_type", "day", "n_events", "fitted", "level"]
            )
        xs = [float(v) for v in pdf["x"]]
        level = sum(xs[:m]) / m
        trend = 0.0
        season = [xs[j] - level for j in range(m)]
        rows = []
        for t in range(m + 1, n + 1):  # 1-based t, matching the CTE
            x = xs[t - 1]
            p = (t - 1) % m
            sp = season[p]
            fitted = level + trend + sp
            new_level = a * (x - sp) + (1 - a) * (level + trend)
            new_trend = b * (new_level - level) + (1 - b) * trend
            season[p] = g * (x - new_level) + (1 - g) * sp
            level, trend = new_level, new_trend
            rows.append((pdf["day"][t - 1], int(x), fitted, level))
        out = pd.DataFrame(
            rows, columns=["day", "n_events", "fitted", "level"]
        )
        out.insert(0, "event_type", pdf["event_type"][0])
        return out

    return s.groupBy("event_type").applyInPandas(
        hw,
        "event_type string, day date, n_events long, fitted double, level double",
    )
