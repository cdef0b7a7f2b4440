"""Temporal-shape queries: SCD2 change history and binned interval
joins. The reference's upsert path (psql_db_client.py:369-417) keeps
only last-writer state; these are the corresponding history-preserving
warehouse shapes.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.aggregations import cents, exact_sum
from ..registry import register
from ..tables import table


@register(
    "scd2_user_type_history",
    oracle="""
        WITH o AS (
            SELECT user_id, event_type, ts,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ), changes AS (
            SELECT user_id, event_type, ts AS valid_from
            FROM o
            WHERE prev_type IS NULL OR event_type <> prev_type
        )
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from) AS valid_to,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from) IS NULL AS is_current
        FROM changes
    """,
    tags=("cdc", "scd2", "window"),
)
def scd2_user_type_history(spark, sf_dir):
    """SCD2 assembly: compress each user's event stream into validity
    intervals of their event_type (change rows only), valid_from/
    valid_to half-open, open-ended row flagged current. Two windows on
    the same (user_id, time) partitioning — one shuffle, both sorts
    reuse it. The history-preserving complement of the engine's
    last-writer-wins upsert."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", "event_type", F.col("ts").alias("valid_from"))
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


_IV_MOD = 97  # event_id % 97 == 0 spawns a maintenance window
_IV_HOURS = 2


@register(
    "join_interval_binned",
    oracle=f"""
        WITH win AS (
            SELECT event_id AS w_id, ts AS w_start,
                   ts + INTERVAL {_IV_HOURS} HOURS AS w_end
            FROM events WHERE event_id % {_IV_MOD} = 0
        )
        SELECT w.w_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
               CAST(ROUND(SUM(CAST(e.value AS DECIMAL(14,2))), 2) AS DOUBLE)
                   AS sum_value
        FROM win w JOIN events e
          ON e.ts >= w.w_start AND e.ts < w.w_end
        GROUP BY w.w_id
    """,
    tags=("join", "interval", "range"),
)
def join_interval_binned(spark, sf_dir):
    """Interval-containment join WITHOUT a cross product: each window
    explodes into the hour buckets it covers, events key by their hour
    bucket, candidates come from the bucket equi-join, exact
    containment filters after. The theta join the oracle runs (and a
    naive engine would run) is O(windows x events); the binned plan
    shuffles each side once on the bucket key — the standard interval-
    join scale trick (cf. range-join binning in Databricks/Flink).
    Bucket width = window length, so each window spans <= 3 buckets and
    candidate inflation is bounded."""
    e = table(spark, sf_dir, "events")
    win = e.filter(F.col("event_id") % _IV_MOD == 0).select(
        F.col("event_id").alias("w_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr(f"INTERVAL {_IV_HOURS} HOURS")).alias("w_end"),
    )
    width = 3600 * _IV_HOURS  # bucket width == window length, epoch grid

    def bkt(col):
        return F.floor(F.unix_timestamp(col) / F.lit(width)).cast("long")

    wb = win.select(
        "w_id",
        "w_start",
        "w_end",
        F.explode(F.sequence(bkt(F.col("w_start")), bkt(F.col("w_end")))).alias("bkt"),
    )
    eb = e.select(
        "event_id", "user_id", "value", "ts", bkt(F.col("ts")).alias("bkt")
    )
    cand = wb.join(eb, "bkt").filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
    )
    return (
        cand.select("w_id", "event_id", "user_id", "value")
        .distinct()
        .groupBy("w_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.expr(exact_sum("value")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "join_asof_nearest",
    oracle="""
        WITH ev AS (
            SELECT event_id, user_id, ts, event_type FROM events
            WHERE event_type IN ('click', 'purchase')
        ), u AS (
            SELECT user_id, ts,
                   CASE WHEN event_type = 'purchase' THEN event_id END AS p_id,
                   CASE WHEN event_type = 'click' THEN event_id END AS c_id
            FROM ev
        ), scan AS (
            SELECT user_id, ts, p_id,
                   last_value(c_id IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, c_id NULLS LAST
                       ROWS UNBOUNDED PRECEDING) AS back_id,
                   last_value(CASE WHEN c_id IS NOT NULL THEN ts END
                              IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, c_id NULLS LAST
                       ROWS UNBOUNDED PRECEDING) AS back_ts,
                   first_value(c_id IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, c_id NULLS LAST
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS fwd_id,
                   first_value(CASE WHEN c_id IS NOT NULL THEN ts END
                               IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, c_id NULLS LAST
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS fwd_ts
            FROM u
        ), p AS (
            SELECT user_id, p_id AS event_id,
                   epoch(ts) - epoch(back_ts) AS bgap,
                   epoch(fwd_ts) - epoch(ts) AS fgap,
                   back_id, fwd_id
            FROM scan WHERE p_id IS NOT NULL
        )
        SELECT event_id, user_id,
               CASE WHEN bgap IS NOT NULL AND bgap <= 7200
                         AND (fgap IS NULL OR fgap > 7200 OR bgap <= fgap)
                    THEN back_id
                    WHEN fgap IS NOT NULL AND fgap <= 7200 THEN fwd_id
               END AS nearest_click_id,
               CASE WHEN bgap IS NOT NULL AND bgap <= 7200
                         AND (fgap IS NULL OR fgap > 7200 OR bgap <= fgap)
                    THEN ROUND(-bgap, 3)
                    WHEN fgap IS NOT NULL AND fgap <= 7200
                    THEN ROUND(fgap, 3)
               END AS signed_gap_seconds
        FROM p
    """,
    tags=("join", "asof", "nearest"),
)
def join_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of join with tolerance: each purchase
    matched to its closest click within 2h, EITHER direction, ties to
    the earlier (backward) click. Same union + window shape as the
    directional as-ofs — ONE shuffle on user_id carries both the
    backward scan and the forward scan (two sorts, no second
    shuffle), so it survives both sides being huge."""
    from pyspark.sql import Window

    from ..functions.time_funcs import epoch_sec

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    u = ev.select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("event_id")).alias("p_id"),
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("c_id"),
    )
    order = [F.col("ts").asc(), F.col("c_id").asc_nulls_last()]
    back = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    fwd = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    c_ts = F.when(F.col("c_id").isNotNull(), F.col("ts"))
    scan = u.select(
        "user_id",
        "ts",
        "p_id",
        F.last("c_id", ignorenulls=True).over(back).alias("back_id"),
        F.last(c_ts, ignorenulls=True).over(back).alias("back_ts"),
        F.first("c_id", ignorenulls=True).over(fwd).alias("fwd_id"),
        F.first(c_ts, ignorenulls=True).over(fwd).alias("fwd_ts"),
    ).filter(F.col("p_id").isNotNull())
    bgap = epoch_sec("ts") - epoch_sec("back_ts")
    fgap = epoch_sec("fwd_ts") - epoch_sec("ts")
    use_back = bgap.isNotNull() & (bgap <= 7200) & (
        fgap.isNull() | (fgap > 7200) | (bgap <= fgap)
    )
    use_fwd = fgap.isNotNull() & (fgap <= 7200)
    return scan.select(
        F.col("p_id").alias("event_id"),
        "user_id",
        F.when(use_back, F.col("back_id"))
        .when(use_fwd, F.col("fwd_id"))
        .alias("nearest_click_id"),
        F.when(use_back, F.round(-bgap, 3))
        .when(use_fwd, F.round(fgap, 3))
        .alias("signed_gap_seconds"),
    )


@register(
    "win_gap_fill_spine",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS cnt,
                   ((SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 200
                     + COUNT(*)) // (2 * COUNT(*))) / 10000.0 AS avg_value
            FROM events GROUP BY 1, 2
        ), bounds AS (
            SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
        ), spine AS (
            SELECT t.event_type, CAST(g.d AS DATE) AS day
            FROM (SELECT DISTINCT event_type FROM daily) t
            CROSS JOIN (
                SELECT unnest(generate_series(
                    (SELECT lo FROM bounds), (SELECT hi FROM bounds),
                    INTERVAL 1 DAY)) AS d
            ) g
        )
        SELECT s.event_type, s.day,
               CAST(COALESCE(d.cnt, 0) AS BIGINT) AS cnt,
               last_value(d.avg_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.day
                   ROWS UNBOUNDED PRECEDING) AS value_locf
        FROM spine s LEFT JOIN daily d
          ON d.event_type = s.event_type AND d.day = s.day
    """,
    tags=("window", "gap-fill", "spine"),
)
def win_gap_fill_spine(spark, sf_dir):
    """Time-spine gap filling: a complete (event_type x day) spine over
    the observed range, zero-filled counts, and last-observation-
    carried-forward for the value series — the missing-day repair every
    downstream window/forecast op assumes. The spine is sequence() on a
    1-row bounds aggregate exploded against the distinct-types table
    (both broadcast-sized); the fact contributes one daily rollup."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count("*").alias("cnt"),
        # all-integer 4-decimal average: engines disagree on ROUND at
        # exact .5 boundaries (Java rounds the shortest decimal repr of
        # the double, DuckDB the binary value), so round-half-up is done
        # in BIGINT arithmetic and only the final /10000 is float
        (
            F.expr(
                f"(sum({cents('value')}) * 200 + count(*)) div (2 * count(*))"
            ).cast("double")
            / 10000.0  # DataFrame-API double literal: in expr text,
            # 10000.0 parses as DECIMAL and poisons the output type
        ).alias("avg_value"),
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
            F.last("avg_value", ignorenulls=True).over(w).alias("value_locf"),
        )
    )


@register(
    "seq_transition_matrix",
    oracle="""
        WITH o AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ), pairs AS (
            SELECT prev_type, event_type AS next_type,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM o WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT prev_type, next_type, cnt,
               ROUND(CAST(cnt AS DOUBLE) /
                     SUM(cnt) OVER (PARTITION BY prev_type), 6) AS prob
        FROM pairs
    """,
    tags=("sequence", "markov", "behavior"),
)
def seq_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: lag each user's time-ordered event stream, count
    (prev -> next) transitions, normalize per source state. The lag
    window shuffles once on user_id; the matrix itself is
    states-squared rows. Deterministic ordering via (ts, event_id)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = o.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    wp = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(wp), 6).alias("prob"),
    )


@register(
    "join_scd2_point_in_time",
    oracle="""
        WITH o AS (
            SELECT user_id, event_type, ts,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ), changes AS (
            SELECT user_id, event_type, ts AS valid_from
            FROM o WHERE prev_type IS NULL OR event_type <> prev_type
        ), scd2 AS (
            SELECT user_id, event_type, valid_from,
                   lead(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY valid_from) AS valid_to
            FROM changes
        ), lookups AS (
            SELECT event_id, user_id, ts - INTERVAL 1 HOUR AS lts
            FROM events WHERE event_type = 'purchase'
        )
        SELECT l.event_id, l.user_id, l.lts,
               s.event_type AS type_at_lookup
        FROM lookups l
        LEFT JOIN scd2 s
          ON s.user_id = l.user_id
         AND s.valid_from <= l.lts
         AND (s.valid_to IS NULL OR l.lts < s.valid_to)
    """,
    tags=("cdc", "scd2", "asof", "point-in-time"),
)
def join_scd2_point_in_time(spark, sf_dir):
    """Point-in-time (AS OF) lookup against SCD2 history: for every
    purchase, the user's event_type interval valid one hour BEFORE the
    purchase — the time-travel join every feature store / audit query
    needs (training-serving skew prevention: features must be as-of
    label time, never current). The oracle is the interval-containment
    range join; the engine runs the as-of union-window formulation
    (ONE shuffle on user_id, no per-user interval fan-out, no
    broadcast requirement) — equal because SCD2 intervals are
    contiguous half-open, so the last valid_from <= t IS the
    containing interval."""
    from ..operators.joins import as_of_join

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", F.col("ts").alias("valid_from"))
    )
    lookups = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("lts"),
    )
    out = as_of_join(
        lookups,
        changes.select("user_id", F.col("event_type").alias("utype"), "valid_from"),
        key="user_id",
        left_ts="lts",
        right_ts="valid_from",
        payload_cols=["utype"],
    )
    return out.select(
        "event_id", "user_id", "lts", F.col("matched_utype").alias("type_at_lookup")
    )


_RC_WIN = 7


@register(
    "win_rolling_corr",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS y
            FROM events GROUP BY 1
        ), w AS (
            SELECT day, x, y,
                   COUNT(*) OVER win AS n,
                   SUM(x) OVER win AS sx,
                   SUM(y) OVER win AS sy,
                   SUM(x * x) OVER win AS sxx,
                   SUM(y * y) OVER win AS syy,
                   SUM(x * y) OVER win AS sxy
            FROM daily
            WINDOW win AS (ORDER BY day ROWS BETWEEN {_RC_WIN - 1} PRECEDING
                           AND CURRENT ROW)
        )
        SELECT day, x, y,
               CASE WHEN n >= {_RC_WIN}
                         AND (n * sxx - sx * sx) > 0
                         AND (n * syy - sy * sy) > 0
                    THEN ROUND(
                        (n * sxy - sx * sy)
                        / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 4)
                    END AS rolling_corr
        FROM w
    """,
    tags=("window", "timeseries", "correlation"),
)
def win_rolling_corr(spark, sf_dir):
    """Rolling 7-day Pearson correlation between the click and purchase
    daily series — the co-movement monitor behind "are informal signals
    tracking official ones this week" (the reference's
    official-vs-informal comparison, windowed). All five windowed sums
    are over INTEGER counts, so the correlation's numerator and both
    variance terms are exact integers at any summation order — the only
    float ops are two sqrts and one division on identical operands,
    which both engines evaluate bit-for-bit. One day-grain shuffle;
    window state is 7 rows."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    win = Window.orderBy("day").rowsBetween(-(_RC_WIN - 1), 0)
    w = (
        daily.withColumn("n", F.count("*").over(win))
        .withColumn("sx", F.sum("x").over(win))
        .withColumn("sy", F.sum("y").over(win))
        .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(win))
        .withColumn("syy", F.sum(F.col("y") * F.col("y")).over(win))
        .withColumn("sxy", F.sum(F.col("x") * F.col("y")).over(win))
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.round(
        num / F.sqrt(vx.cast("double")) / F.sqrt(vy.cast("double")), 4
    )
    return w.select(
        "day",
        "x",
        "y",
        F.when((F.col("n") >= _RC_WIN) & (vx > 0) & (vy > 0), corr).alias(
            "rolling_corr"
        ),
    )


@register(
    "ts_stl_decompose",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ), t AS (
            SELECT event_type, day, cnt,
                   SUM(cnt) OVER w AS trend7,
                   COUNT(*) OVER w AS nwin
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ), seas AS (
            SELECT event_type, dayofweek(day) + 1 AS dow,
                   SUM(7 * cnt - trend7) / (7.0 * COUNT(*)) AS seasonal
            FROM t WHERE nwin = 7 GROUP BY 1, 2
        )
        SELECT t.event_type, t.day, t.cnt,
               ROUND(CASE WHEN t.nwin = 7 THEN t.trend7 / 7.0 END, 6)
                   AS trend,
               ROUND(s.seasonal, 6) AS seasonal,
               CASE WHEN t.nwin = 7 THEN
                    ROUND(t.cnt - t.trend7 / 7.0 - s.seasonal, 6) END
                   AS residual
        FROM t LEFT JOIN seas s
          ON s.event_type = t.event_type AND s.dow = dayofweek(t.day) + 1
    """,
    tags=("timeseries", "decomposition", "seasonal"),
)
def ts_stl_decompose(spark, sf_dir):
    """Additive trend/seasonal/residual decomposition of the per-type
    daily series (the classical-decomposition simplification of STL:
    centered 7-observation moving-average trend, day-of-week means of
    the detrended series as the seasonal component, the rest residual)
    — the series triage behind ts_seasonal_strength's single strength
    number: WHICH days carry the season and how big the irregular term
    is. Cross-engine float discipline: the trend is an integer 7-day
    sum divided ONCE; the detrended series is kept scaled by 7
    (7*cnt - trend7, pure integers) so the day-of-week mean is an
    exact-integer sum with ONE division — no order-dependent double
    accumulation anywhere, so both engines emit identical bits before
    the final round. Edge days (incomplete window) carry null
    trend/residual, matching the oracle's CASE.

    Scale shape: one day-grain aggregation (map-side combinable); the
    windows run over the daily spine partitioned by type; the seasonal
    dim is type x 7 rows broadcast back."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    t = daily.withColumn("trend7", F.sum("cnt").over(w7)).withColumn(
        "nwin", F.count("*").over(w7)
    )
    seas = (
        t.filter(F.col("nwin") == 7)
        .groupBy("event_type", F.dayofweek("day").alias("dow"))
        .agg(
            (
                F.sum(F.lit(7) * F.col("cnt") - F.col("trend7"))
                / (F.lit(7.0) * F.count("*"))
            ).alias("seasonal")
        )
    )
    trend = F.col("trend7") / F.lit(7.0)
    return (
        t.withColumn("dow", F.dayofweek("day"))
        .join(F.broadcast(seas), ["event_type", "dow"], "left")
        .select(
            "event_type",
            "day",
            "cnt",
            F.round(F.when(F.col("nwin") == 7, trend), 6).alias("trend"),
            F.round(F.col("seasonal"), 6).alias("seasonal"),
            F.when(
                F.col("nwin") == 7,
                F.round(F.col("cnt") - trend - F.col("seasonal"), 6),
            ).alias("residual"),
        )
    )


_BURST_GAP_US = 43_200_000_000  # 12 h, exact integer microseconds
# (the synthetic event stream is sparse: a 10-min gap yields zero
# qualifying bursts below sf0.1, which would gate an empty result)
_BURST_MIN = 3


@register(
    "seq_error_bursts",
    oracle=f"""
        WITH e AS (
            SELECT user_id, epoch_us(ts) AS tus, event_id
            FROM events WHERE event_type = 'error'
        ), g AS (
            SELECT user_id, tus,
                   CASE WHEN lag(tus) OVER w IS NULL
                             OR tus - lag(tus) OVER w > {_BURST_GAP_US}
                        THEN 1 ELSE 0 END AS new_burst
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        ), b AS (
            SELECT user_id,
                   SUM(new_burst) OVER (PARTITION BY user_id ORDER BY tus)
                       AS burst_id
            FROM g
        ), runs AS (
            SELECT user_id, burst_id, CAST(COUNT(*) AS BIGINT) AS len
            FROM b GROUP BY user_id, burst_id
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_bursts,
               CAST(MAX(len) AS BIGINT) AS max_burst_len,
               CAST(SUM(len) AS BIGINT) AS total_burst_events
        FROM runs WHERE len >= {_BURST_MIN}
        GROUP BY user_id
    """,
    tags=("sequence", "pattern", "behavior", "streaming-adjacent"),
)
def seq_error_bursts(spark, sf_dir):
    """Gap-constrained consecutive-pattern detection — the
    MATCH_RECOGNIZE shape (`error{{3,}}` with inter-event gap <= 12
    h) Spark has no native operator for, expressed as the classic
    gaps-and-islands rewrite: flag a new island when the gap to the
    previous event exceeds the bound, running-sum the flags into island
    ids (both windows PARTITIONED BY user — never global), then one
    groupBy per island. Per-user burst profile: number of qualifying
    bursts (>= 3 events), longest burst, events inside bursts.

    Parity: gaps compare in exact integer MICROSECONDS (`unix_micros`
    vs `epoch_us` — both engines truncate the parquet ns timestamps to
    identical us values), ties broken by event_id. At 100 TB the only
    shuffle is the user-key exchange the windows and the rollup share;
    the error filter pushes to the scan."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    ).select(
        "user_id", F.unix_micros("ts").alias("tus"), "event_id"
    )
    wo = Window.partitionBy("user_id").orderBy("tus", "event_id")
    g = e.select(
        "user_id",
        "tus",
        F.when(
            F.lag("tus").over(wo).isNull()
            | ((F.col("tus") - F.lag("tus").over(wo)) > _BURST_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_burst"),
    )
    b = g.select(
        "user_id",
        F.sum("new_burst")
        .over(Window.partitionBy("user_id").orderBy("tus"))
        .alias("burst_id"),
    )
    runs = b.groupBy("user_id", "burst_id").agg(
        F.count("*").cast("long").alias("len")
    )
    return (
        runs.filter(F.col("len") >= _BURST_MIN)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_bursts"),
            F.max("len").cast("long").alias("max_burst_len"),
            F.sum("len").cast("long").alias("total_burst_events"),
        )
    )


_SESS_GAP_US = 43_200_000_000  # 12 h (matches the burst grain: the
# synthetic stream is sparse — 30 min yields 1.05-event sessions)


@register(
    "seq_session_handoff_matrix",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
            FROM events
        ), g AS (
            SELECT user_id, event_type, tus, event_id,
                   CASE WHEN lag(tus) OVER w IS NULL
                             OR tus - lag(tus) OVER w > {_SESS_GAP_US}
                        THEN 1 ELSE 0 END AS nb
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        ), b AS (
            SELECT user_id, event_type, tus, event_id,
                   SUM(nb) OVER (PARTITION BY user_id
                                 ORDER BY tus, event_id) AS sid
            FROM g
        ), r AS (
            SELECT user_id, sid, event_type,
                   row_number() OVER (PARTITION BY user_id, sid
                                      ORDER BY tus, event_id) AS rf,
                   row_number() OVER (PARTITION BY user_id, sid
                                      ORDER BY tus DESC, event_id DESC)
                       AS rl
            FROM b
        ), s AS (
            SELECT user_id, sid,
                   MAX(CASE WHEN rf = 1 THEN event_type END) AS first_type,
                   MAX(CASE WHEN rl = 1 THEN event_type END) AS last_type
            FROM r GROUP BY user_id, sid
        ), h AS (
            SELECT lag(last_type) OVER (PARTITION BY user_id
                                        ORDER BY sid) AS from_type,
                   first_type AS to_type
            FROM s
        ), m AS (
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM h WHERE from_type IS NOT NULL GROUP BY 1, 2
        )
        SELECT from_type, to_type, cnt,
               ROUND(CAST(cnt AS DOUBLE) /
                     SUM(cnt) OVER (PARTITION BY from_type), 6) AS prob
        FROM m
    """,
    tags=("sequence", "session", "markov", "behavior"),
)
def seq_session_handoff_matrix(spark, sf_dir):
    """Cross-SESSION transition matrix — how a user's next visit opens
    given how the last one ended (last event of session i -> first
    event of session i+1): the islands device (12h-gap sessionization,
    same grain as seq_error_bursts) composed with the Markov rollup of
    seq_transition_matrix, which only sees WITHIN-stream transitions.

    Session endpoints are exact arg_min/arg_max over the composite
    (tus, event_id) order — min_by/max_by on a struct in Spark,
    arg_min/arg_max on a list in DuckDB, both total orders so ties
    break identically. Every window and the session rollup partition
    by user; the matrix is states-squared rows; probabilities are one
    division per cell over the from-state marginal, round(6)."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        "event_id",
    )
    wo = Window.partitionBy("user_id").orderBy("tus", "event_id")
    b = e.select(
        "user_id",
        "event_type",
        "tus",
        "event_id",
        F.sum(
            F.when(
                F.lag("tus").over(wo).isNull()
                | ((F.col("tus") - F.lag("tus").over(wo)) > _SESS_GAP_US),
                1,
            ).otherwise(0)
        )
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    s = b.groupBy("user_id", "sid").agg(
        F.min_by("event_type", F.struct("tus", "event_id")).alias(
            "first_type"
        ),
        F.max_by("event_type", F.struct("tus", "event_id")).alias("last_type"),
    )
    ws = Window.partitionBy("user_id").orderBy("sid")
    h = s.select(
        F.lag("last_type").over(ws).alias("from_type"),
        F.col("first_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    m = h.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wp = Window.partitionBy("from_type")
    return m.select(
        "from_type",
        "to_type",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(wp), 6).alias("prob"),
    )


# --- Within-session dwell-time quantiles -----------------------------------


@register(
    "seq_dwell_time_quantiles",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
            FROM events
        ), g AS (
            SELECT user_id, event_type, tus, event_id,
                   CASE WHEN lag(tus) OVER w IS NULL
                             OR tus - lag(tus) OVER w > {_SESS_GAP_US}
                        THEN 1 ELSE 0 END AS nb
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        ), b AS (
            SELECT user_id, event_type, tus, event_id,
                   SUM(nb) OVER (PARTITION BY user_id
                                 ORDER BY tus, event_id) AS sid
            FROM g
        ), dw AS (
            SELECT event_type,
                   (lead(tus) OVER (PARTITION BY user_id, sid
                                    ORDER BY tus, event_id) - tus)
                       // 1000000 AS dwell_s
            FROM b
        ), h AS (
            SELECT event_type, dwell_s, COUNT(*) AS c
            FROM dw WHERE dwell_s IS NOT NULL GROUP BY 1, 2
        ), cum AS (
            SELECT event_type, dwell_s, c,
                   SUM(c) OVER (PARTITION BY event_type
                                ORDER BY dwell_s) AS cw,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM h
        )
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS n_dwells,
               CAST(MIN(CASE WHEN cw >= (1 * n + 3) // 4
                        THEN dwell_s END) AS BIGINT) AS q1_s,
               CAST(MIN(CASE WHEN cw >= (1 * n + 1) // 2
                        THEN dwell_s END) AS BIGINT) AS med_s,
               CAST(MIN(CASE WHEN cw >= (3 * n + 3) // 4
                        THEN dwell_s END) AS BIGINT) AS q3_s,
               CAST(MAX(dwell_s) AS BIGINT) AS max_s
        FROM cum GROUP BY event_type
    """,
    tags=("sequence", "session", "behavior"),
)
def seq_dwell_time_quantiles(spark, sf_dir):
    """Within-session dwell-time quartiles per event type: how long a
    user lingers on an event before their NEXT action in the same
    session (lead(ts) - ts inside the 12h-gap islands of
    seq_session_handoff_matrix; a session's last event has no dwell).
    This is the per-state timing companion to the handoff matrix's
    per-state transition probabilities — together they parameterize a
    semi-Markov model of the stream, and in a training pipeline the
    dwell tail decides the session-timeout and truncation constants.

    Quartiles are EXACT order statistics from the histogram
    specialization of the bucketed-rank device
    (grouped_histogram_quantiles): dwell is quantized to SECOND grain
    first (integer `div` on the microsecond gap — gaps inside a 12h
    session bound the histogram at 43,201 distinct values per type BY
    CONSTRUCTION), the corpus collapses to a (type x dwell-second)
    histogram in one combinable groupBy, and the cumulative window
    runs per-type over that bounded frame — no corpus-sized window
    beyond the per-user sessionization itself, which partitions by
    user exactly like every other sequence query."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        "event_id",
    )
    wo = Window.partitionBy("user_id").orderBy("tus", "event_id")
    b = e.select(
        "user_id",
        "event_type",
        "tus",
        "event_id",
        F.sum(
            F.when(
                F.lag("tus").over(wo).isNull()
                | ((F.col("tus") - F.lag("tus").over(wo)) > _SESS_GAP_US),
                1,
            ).otherwise(0)
        )
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("tus", "event_id")
    dw = (
        b.withColumn(
            "__gap_us", F.lead("tus").over(ws) - F.col("tus")
        )
        .filter(F.col("__gap_us").isNotNull())
        .select(
            "event_type", F.expr("__gap_us div 1000000").alias("dwell_s")
        )
    )
    from ..operators.ranking import grouped_histogram_quantiles

    q = grouped_histogram_quantiles(
        dw,
        ["event_type"],
        "dwell_s",
        {"q1_s": (1, 4), "med_s": (1, 2), "q3_s": (3, 4)},
    )
    return q.select(
        "event_type",
        F.col("n_values").alias("n_dwells"),
        "q1_s",
        "med_s",
        "q3_s",
        F.col("max_value").alias("max_s"),
    )
