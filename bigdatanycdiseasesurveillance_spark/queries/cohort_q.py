"""Product-analytics shapes over the event stream: weekly cohort
retention, strictly-ordered funnel stages, and the value-window
family (first/last/nth) — the dashboard tier the reference serves
from Postgres views (dashboard_app.py), re-expressed as single-pass
Spark plans.

Scale notes: cohort retention is three keyed shuffles, all on
user_id or (cohort, offset) — the (user, week) activity matrix is
distinct-compressed before the join, so the fact table is scanned
once. The funnel's min-ts chaining is the de-correlated form of the
per-user sequence scan (each stage is one user-keyed join + partial
min, never a per-user subquery). The value windows share one frame
spec, so Spark plans a single Window node over one sort.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.aggregations import cents
from ..registry import register
from ..tables import table


@register(
    "agg_cohort_retention",
    oracle="""
        WITH f AS (
            SELECT user_id,
                   MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        a AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS wk
            FROM events
        ),
        cs AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM f GROUP BY cohort_week),
        act AS (
            SELECT f.cohort_week,
                   CAST(date_diff('day', f.cohort_week, a.wk) / 7 AS BIGINT)
                       AS week_offset,
                   COUNT(*) AS n_active
            FROM a JOIN f ON a.user_id = f.user_id
            GROUP BY 1, 2
        )
        SELECT act.cohort_week,
               act.week_offset,
               CAST(act.n_active AS BIGINT) AS n_active,
               CAST(cs.cohort_size AS BIGINT) AS cohort_size,
               act.n_active * 1.0 / cs.cohort_size AS retention_frac
        FROM act JOIN cs ON act.cohort_week = cs.cohort_week
    """,
    tags=("cohort", "retention", "agg"),
)
def agg_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-touch week,
    counted active per week offset, as a fraction of cohort size.
    The activity matrix is distinct-compressed to (user, week) before
    joining the cohort assignment — one scan of the fact table, then
    user-keyed joins over a table bounded by users x weeks. The
    retention fraction is a raw exact-integer division (identical
    doubles both engines)."""
    e = table(spark, sf_dir, "events").withColumn(
        "wk", F.date_trunc("week", "ts").cast("date")
    )
    f = e.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    a = e.select("user_id", "wk").distinct()
    cs = f.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    act = (
        a.join(f, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )
    return act.join(F.broadcast(cs), "cohort_week").select(
        "cohort_week",
        "week_offset",
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        (F.col("n_active") * F.lit(1.0) / F.col("cohort_size")).alias(
            "retention_frac"
        ),
    )


@register(
    "funnel_stage_counts",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t1
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t2
            GROUP BY e.user_id
        )
        SELECT 'stage1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        UNION ALL
        SELECT 'stage2_click', CAST(COUNT(*) AS BIGINT) FROM c
        UNION ALL
        SELECT 'stage3_purchase', CAST(COUNT(*) AS BIGINT) FROM p
    """,
    tags=("funnel", "sequence", "join"),
)
def funnel_stage_counts(spark, sf_dir):
    """Strictly-ordered funnel (view -> click -> purchase): a user
    advances a stage only with an event strictly after their previous
    stage's first event. Min-ts chaining de-correlates the per-user
    sequence scan: each stage is one user-keyed join plus a partial
    min — the classic rewrite that avoids per-user subqueries; at
    100 TB every shuffle is on user_id, so with bucketing all three
    stages co-locate."""
    e = table(spark, sf_dir, "events")

    def stage(prev, prev_t: str, etype: str, out_t: str):
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_t))
        )

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = stage(v.select("user_id", "t1"), "t1", "click", "t2")
    p = stage(c.select("user_id", "t2"), "t2", "purchase", "t3")

    def count_row(df, label: str):
        return df.agg(
            F.lit(label).alias("stage"), F.count("*").cast("long").alias("n_users")
        )

    return (
        count_row(v, "stage1_view")
        .unionAll(count_row(c, "stage2_click"))
        .unionAll(count_row(p, "stage3_purchase"))
    )


@register(
    "win_value_suite",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
               CAST(first_value(cnt) OVER w AS BIGINT) AS first_cnt,
               CAST(last_value(cnt) OVER w AS BIGINT) AS last_cnt,
               CAST(nth_value(cnt, 3) OVER w AS BIGINT) AS third_cnt,
               CAST(cnt - first_value(cnt) OVER w AS BIGINT) AS delta_from_first
        FROM s
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "value-functions"),
)
def win_value_suite(spark, sf_dir):
    """The value-window family (first_value / last_value / nth_value)
    over each type's daily series with an explicit full frame —
    last_value over the default frame is the classic silent bug (it
    returns the CURRENT row), so the frame is pinned UNBOUNDED..
    UNBOUNDED on both engines. All four outputs share one frame spec:
    Spark plans a single Window node, one shuffle + one sort."""
    e = table(spark, sf_dir, "events")
    s = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return s.select(
        "event_type",
        "day",
        F.col("cnt").cast("long").alias("cnt"),
        F.first("cnt").over(w).cast("long").alias("first_cnt"),
        F.last("cnt").over(w).cast("long").alias("last_cnt"),
        F.nth_value("cnt", 3).over(w).cast("long").alias("third_cnt"),
        (F.col("cnt") - F.first("cnt").over(w)).cast("long").alias(
            "delta_from_first"
        ),
    )


@register(
    "attr_multi_touch",
    oracle="""
        WITH p AS (
            SELECT event_id AS pid, user_id, ts AS pts, value
            FROM events WHERE event_type = 'purchase'
        ), c AS (
            SELECT event_id AS cid, user_id, ts AS cts
            FROM events WHERE event_type = 'click'
        ), touch AS (
            SELECT p.pid, p.value,
                   CAST(c.cts AS DATE) AS click_day,
                   COUNT(*) OVER (PARTITION BY p.pid) AS n,
                   ROW_NUMBER() OVER (PARTITION BY p.pid
                                      ORDER BY c.cts, c.cid) AS rn_asc,
                   ROW_NUMBER() OVER (PARTITION BY p.pid
                                      ORDER BY c.cts DESC, c.cid DESC) AS rn_desc
            FROM p JOIN c
              ON p.user_id = c.user_id
             AND c.cts < p.pts
             AND c.cts >= p.pts - INTERVAL 7 DAY
        ), credits AS (
            -- exact integer micro-cents: value/n as floats summed in
            -- engine-dependent order can land on a ROUND boundary; the
            -- contract is integer floor division instead
            SELECT 'linear' AS model, click_day,
                   CAST(ROUND(value * 100) AS BIGINT) * 1000000 // n AS credit
            FROM touch
            UNION ALL
            SELECT 'first', click_day,
                   CAST(ROUND(value * 100) AS BIGINT) * 1000000
            FROM touch WHERE rn_asc = 1
            UNION ALL
            SELECT 'last', click_day,
                   CAST(ROUND(value * 100) AS BIGINT) * 1000000
            FROM touch WHERE rn_desc = 1
        )
        SELECT model, click_day,
               CAST(SUM(credit) AS BIGINT) AS credit_microcents,
               CAST(COUNT(*) AS BIGINT) AS n_touches
        FROM credits GROUP BY 1, 2
    """,
    tags=("analytics", "attribution", "join", "window"),
)
def attr_multi_touch(spark, sf_dir):
    """Multi-touch attribution: purchase value credited to the user's
    clicks in the prior 7 days under three models at once — linear
    (value/n per touch), first-touch, last-touch — rolled up per
    (model, click day), in exact integer micro-cents (floor division —
    float credit sums are order-dependent and can straddle a ROUND
    boundary between engines). One user-keyed range join bounded by the 7-day
    window, per-purchase window ranks, and a 3-way credit explode (no
    re-scan per model). Completes the funnel/cohort/attribution trio of
    the product-analytics tier. Scale: the join shuffles on user_id
    (bucketing co-locates it); window state is per-purchase touches,
    bounded by click rate x 7 days."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
        "value",
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id"),
        F.col("ts").alias("cts"),
    )
    touch = p.join(
        c,
        (p.user_id == c.user_id)
        & (c.cts < p.pts)
        & (c.cts >= p.pts - F.expr("INTERVAL 7 DAY")),
    ).select(
        "pid",
        "value",
        F.col("cts").cast("date").alias("click_day"),
        "cts",
        "cid",
    )
    wp = Window.partitionBy("pid")
    touch = (
        touch.withColumn("n", F.count("*").over(wp))
        .withColumn(
            "rn_asc", F.row_number().over(wp.orderBy("cts", "cid"))
        )
        .withColumn(
            "rn_desc",
            F.row_number().over(wp.orderBy(F.desc("cts"), F.desc("cid"))),
        )
    )
    micro = f"{cents('value')} * 1000000"
    credits = touch.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(
                        F.lit("linear").alias("model"),
                        F.expr(f"{micro} DIV n").alias("credit"),
                    ),
                    F.struct(
                        F.lit("first").alias("model"),
                        F.when(F.col("rn_asc") == 1, F.expr(micro)).alias("credit"),
                    ),
                    F.struct(
                        F.lit("last").alias("model"),
                        F.when(F.col("rn_desc") == 1, F.expr(micro)).alias("credit"),
                    ),
                ),
                lambda s: s.credit.isNotNull(),
            )
        ).alias("cr"),
        "click_day",
    )
    return credits.groupBy(
        F.col("cr.model").alias("model"), "click_day"
    ).agg(
        F.sum("cr.credit").cast("long").alias("credit_microcents"),
        F.count("*").cast("long").alias("n_touches"),
    )
