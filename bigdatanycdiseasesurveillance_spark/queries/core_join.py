"""Join query corpus (SURVEY §2.3 J1-J11, plus as-of and range joins)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.time_funcs import epoch_sec
from ..operators.joins import as_of_join
from ..registry import register
from ..tables import table, values_dim


@register(
    "join_region_customers",
    oracle="""
        SELECT r.r_name,
               COUNT(*) AS n_customers,
               ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1
    """,
    tags=("join", "J2"),
)
def join_region_customers(spark, sf_dir):
    """J2-shape: two chained broadcast dimension lookups then aggregate.
    nation/region broadcast — the fact (customer) side never shuffles
    for the join, only for the final tiny aggregation (reference dict
    lookups, e.g. src/spark_consumers/nyc_neighborhoods.py:176-187)."""
    c, n, r = table(spark, sf_dir, "customer"), table(spark, sf_dir, "nation"), table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    )
    return joined.groupBy("r_name").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


@register(
    "join_daily_compare",
    oracle="""
        WITH p AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS purchase_cnt
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ), e AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS error_cnt
            FROM events WHERE event_type = 'error' GROUP BY 1
        )
        SELECT COALESCE(p.day, e.day) AS day,
               COALESCE(p.purchase_cnt, 0) AS purchase_cnt,
               COALESCE(e.error_cnt, 0) AS error_cnt,
               COALESCE(p.purchase_cnt, 0) - COALESCE(e.error_cnt, 0) AS diff
        FROM p FULL OUTER JOIN e ON p.day = e.day
    """,
    tags=("join", "J1"),
)
def join_daily_compare(spark, sf_dir):
    """J1: official-vs-informal full-outer daily comparison with
    zero-fill and difference metric (reference:
    src/dashboard/app_upgraded.py:580-629). Both sides are pre-aggregated
    (tiny) before the join — the join cost is negligible at any scale."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    p = ev.filter(F.col("event_type") == "purchase").groupBy(day).agg(
        F.count("*").alias("purchase_cnt")
    )
    e = ev.filter(F.col("event_type") == "error").groupBy(day).agg(
        F.count("*").alias("error_cnt")
    )
    merged = p.join(e, ["day"], "full_outer").na.fill(0)
    return merged.withColumn("diff", F.col("purchase_cnt") - F.col("error_cnt"))


@register(
    "join_quantity_bands",
    oracle="""
        SELECT b.band, COUNT(*) AS cnt, ROUND(AVG(l.l_quantity), 4) AS avg_qty
        FROM lineitem l
        LEFT JOIN (VALUES ('low', 0.0, 15.0), ('mid', 15.0, 30.0),
                          ('high', 30.0, 45.0), ('top', 45.0, 100.0))
             b(band, lo, hi)
          ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
        GROUP BY 1
    """,
    tags=("join", "J3", "range"),
)
def join_quantity_bands(spark, sf_dir):
    """J3: point-in-range broadcast join against a literal band dim (the
    point-in-bbox shape; reference:
    src/spark_consumers/nyc_neighborhoods.py:190-205 linear scan).
    Broadcast nested-loop: each executor scans its fact partition
    against the in-memory bands, so the fact side never shuffles.
    Bands are [lo, hi)."""
    li = table(spark, sf_dir, "lineitem")
    bands = values_dim(
        spark,
        [("low", 0.0, 15.0), ("mid", 15.0, 30.0), ("high", 30.0, 45.0), ("top", 45.0, 100.0)],
        "band string, lo double, hi double",
    )
    q = F.col("l_quantity")
    joined = li.join(
        F.broadcast(bands), (q >= F.col("lo")) & (q < F.col("hi")), "left"
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("cnt"), F.round(F.avg("l_quantity"), 4).alias("avg_qty")
    )


@register(
    "join_customers_no_orders",
    oracle="""
        SELECT n.n_name, COUNT(*) AS n_inactive
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY 1
    """,
    tags=("join", "J11", "anti"),
)
def join_customers_no_orders(spark, sf_dir):
    """J11: anti-join (skip-existing; reference:
    src/database/chromadb_client.py:77-102). Customers with no orders, by
    nation. orders side is reduced to distinct keys before the anti-join."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey")).distinct()
    n = table(spark, sf_dir, "nation")
    inactive = c.join(o, "c_custkey", "left_anti")
    return (
        inactive.join(F.broadcast(n), inactive.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_inactive"))
    )


@register(
    "join_active_customers_semi",
    oracle="""
        SELECT c.c_mktsegment, COUNT(*) AS n_active
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY 1
    """,
    tags=("join", "semi"),
)
def join_active_customers_semi(spark, sf_dir):
    """Left-semi membership join: customers with at least one order
    (the reference filters by id lists, e.g.
    src/analysis/spatial_clustering.py:496-519)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "join_asof_purchase_click",
    oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        SELECT p.event_id, p.user_id,
               c.event_id AS matched_event_id,
               ROUND(epoch(p.ts) - epoch(c.ts), 3) AS gap_seconds
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("join", "asof"),
    bench=True,
)
def join_asof_purchase_click(spark, sf_dir):
    """As-of join: each purchase matched to the user's latest click at or
    before it (SURVEY §2.3 gap-fill; oracle is DuckDB ASOF JOIN). The
    union+window implementation shuffles each side once on user_id."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    p = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    c = ev.filter(F.col("event_type") == "click").drop("event_type")
    out = as_of_join(p, c, "ts", "ts", ["event_id", "ts"], tiebreak="event_id")
    return out.select(
        "event_id",
        "user_id",
        F.col("matched_event_id"),
        F.round(epoch_sec("ts") - epoch_sec("matched_ts"), 3).alias("gap_seconds"),
    )


@register(
    "setop_user_overlap",
    oracle="""
        WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
             e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT user_id FROM p UNION SELECT user_id FROM e)
        UNION ALL
        SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)
        UNION ALL
        SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)
    """,
    tags=("setop", "U1", "U3"),
)
def setop_user_overlap(spark, sf_dir):
    """U1/U3: union / intersect / except cardinalities of two key sets."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    e = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    rows = [
        ("union", p.union(e).distinct()),
        ("intersect", p.intersect(e)),
        ("except", p.exceptAll(e).distinct()),
    ]
    parts = [df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n") for op, df in rows]
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


@register(
    "join_salted_skew",
    oracle="""
        WITH dim AS (
            SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type) * 1.5 AS weight
            FROM (SELECT DISTINCT event_type FROM events)
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,2))
                              * CAST(d.weight AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS weighted_value
        FROM events e JOIN dim d ON e.event_type = d.event_type
        GROUP BY e.event_type
    """,
    tags=("join", "skew", "salting"),
)
def join_salted_skew(spark, sf_dir):
    """Skew-aware join: the fact table's event_type keys are heavily
    skewed (5 distinct keys over the whole corpus), so the dim join uses
    explicit SALT-way key splitting (operators/skew.salted_join) — each
    hot key spreads over 8 shuffle buckets. The oracle is the PLAIN
    join: salting must be a pure physical rewrite with identical
    results."""
    from ..operators.skew import salted_join
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "weight",
            F.row_number().over(Window.orderBy("event_type")).cast("double") * 1.5,
        )
    )
    joined = salted_join(
        ev.select("event_type", "value"), dim, on="event_type",
        left_salt_from=["event_type", "value"],
    )
    # decimal accumulation: exact regardless of summation order, so the
    # salted plan matches the oracle bit-for-bit
    weighted = F.col("value").cast("decimal(18,2)") * F.col("weight").cast("decimal(18,2)")
    return joined.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum(weighted), 2).cast("double").alias("weighted_value"),
    )
