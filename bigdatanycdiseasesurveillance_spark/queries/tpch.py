"""TPC-H-style multi-join analytic queries.

The reference's analytics never join more than two tables (SURVEY §2.3
notes multi-join shapes as a Catalyst-covered gap). These exercise join
reordering, broadcast selection, and partial aggregation at bench scale
— the queries a 100 TB deployment actually runs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.aggregations import cents
from ..registry import register
from ..tables import table


# Exact-money device (an sf1 audit's finding): SUM over DOUBLE money is
# summation-order-dependent, and Spark's order varies with partition
# scheduling — at sf1 a revenue landing on a half-cent boundary rounds
# differently RUN TO RUN (tpch_q3 flipped a cent between the audit run
# and a re-run, same code, same data). DECIMAL sums are exact at any
# order on both engines. Width 12 keeps the triple product
# price*(1-disc)*(1+tax) at DuckDB width (12,2)x(13,2)x(13,2) = (38,6),
# inside the 38-digit decimal limit on both engines (beyond it DuckDB
# silently falls back to DOUBLE, losing the guarantee).
_MONEY = "decimal(12,2)"


def _dec(name: str):
    return F.col(name).cast(_MONEY)


@register(
    "tpch_q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2)
                    AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(12,2)))
                              * (1 + CAST(l_tax AS DECIMAL(12,2)))), 2)
                    AS DOUBLE) AS sum_charge,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                               AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS avg_price,
               CAST(ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(12,2)))
                               AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY 1, 2
    """,
    tags=("tpch", "agg"),
    bench=True,
)
def tpch_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: wide partial-aggregation scan. The shipdate filter
    reaches the parquet scan (PushedFilters); the groupBy keys are
    2-value strings so the shuffle carries ~8 rows per map task. Money
    sums accumulate in DECIMAL (exact at any summation order — see
    _MONEY); quantity sums stay double because quantities are whole
    numbers, exactly representable."""
    li = table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast(_MONEY)
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount"))
    charge = disc_price * (one + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_price"),
            F.round(
                F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
        SELECT l.l_orderkey,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 2)
                    AS DOUBLE) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY 1, 3, 4
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    tags=("tpch", "join"),
    bench=True,
)
def tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective filters pushed below a 3-way join, then
    top-k (TakeOrderedAndProject — no global sort materialization).
    customer (filtered) broadcasts; orders⋈lineitem is the only shuffle.
    Revenue accumulates in DECIMAL — an sf1 audit caught this exact
    query flipping a half-cent-boundary cent between runs on the
    double-sum formulation (see _MONEY)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast(_MONEY) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_regional_revenue",
    oracle="""
        SELECT n.n_name,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 2)
                    AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1
    """,
    tags=("tpch", "join"),
    bench=True,
)
def tpch_q5_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join with region filter. nation/region/
    supplier broadcast (dim-sized); the only big shuffle is
    orders⋈lineitem on orderkey. Catalyst + AQE handle ordering."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1).cast(_MONEY) - _dec("l_discount"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o_orderpriority
    """,
    tags=("tpch", "semi", "exists"),
)
def tpch_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (adapted to this schema's dates): EXISTS
    decorrelates to a LEFT SEMI join — no row multiplication, the probe
    side streams, and the date filters push to both scans."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sem = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("order_count")
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    tags=("tpch", "pushdown"),
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure filter + global agg — every predicate must reach
    the parquet scan; zero joins, one partial-agg exchange of one row
    per task. Decimal accumulation keeps the sum order-exact."""
    li = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast(
        "decimal(18,2)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


@register(
    "tpch_q14_promo_share",
    oracle="""
        SELECT CAST(ROUND(
                 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                       * (1 - CAST(l_discount AS DECIMAL(12,2)))
                                  ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(12,2))))
                        AS DOUBLE), 4) AS DOUBLE)
                   AS promo_share_pct,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
    tags=("tpch", "join", "conditional-agg"),
)
def tpch_q14_promo_share(spark, sf_dir):
    """TPC-H Q14: broadcast dim join + conditional aggregation. The part
    table broadcasts; the single-month shipdate filter prunes the fact
    scan; the CASE folds into the partial aggregate."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = _dec("l_extendedprice") * (F.lit(1).cast(_MONEY) - _dec("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(
        F.lit(0).cast(_MONEY)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0 * F.sum(promo).cast("double") / F.sum(disc).cast("double"), 4
            )
            .cast("double")
            .alias("promo_share_pct"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
        WITH big AS (
            SELECT l_orderkey
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 300
        )
        SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
               ROUND(SUM(l.l_quantity), 2) AS total_qty
        FROM orders o
        JOIN big ON o.o_orderkey = big.l_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
    """,
    tags=("tpch", "having", "topk"),
)
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18: HAVING subquery becomes an aggregate + semi-style join
    chain; the big-order key set is small after the quantity threshold,
    so it broadcasts into the fact joins; top-k is TakeOrdered."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        o.join(F.broadcast(big), o["o_orderkey"] == big["big_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
        SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
                    AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
)
def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10: 4-way join (two fact, two dim) with date + returnflag
    filters pushed to the scans, nation broadcast, top-20 by revenue.
    Decimal accumulation keeps the revenue sum order-exact."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q12_priority_shipping",
    oracle="""
        SELECT l.l_returnflag,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_returnflag
    """,
    tags=("tpch", "conditional-agg"),
)
def tpch_q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape (adapted: returnflag stands in for shipmode):
    fact-fact join with a year filter pushed to the lineitem scan and
    two CASE branches folded into one partial aggregate — one pass, not
    one aggregation per branch."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c
            LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM per_cust
        GROUP BY c_count
    """,
    tags=("tpch", "outer-join"),
)
def tpch_q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution through a
    LEFT OUTER join with a join-side predicate (the predicate must stay
    in the join condition, not a post-filter, or no-order customers
    vanish). Two aggregations: per-customer count, then the histogram —
    both partial-aggregated map-side."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle="""
        SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 1 AND 20)
           OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 10 AND 25
               AND l.l_quantity BETWEEN 10 AND 35)
           OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 25 AND 50
               AND l.l_quantity BETWEEN 25 AND 50)
    """,
    tags=("tpch", "disjunctive"),
)
def tpch_q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive (brand, size,
    quantity) clauses across a join. Catalyst extracts the common
    single-side conjuncts from the OR (brand/size reach the part scan,
    quantity bounds reach lineitem) so both scans prune before the
    join; the residual OR evaluates post-join."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    clause = (
        ((b == "Brand#1") & s.between(1, 10) & q.between(1, 20))
        | ((b == "Brand#12") & s.between(10, 25) & q.between(10, 35))
        | ((b == "Brand#15") & s.between(25, 50) & q.between(25, 50))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(clause)
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1).cast(_MONEY) - _dec("l_discount"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q7_volume_shipping",
    oracle="""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 2)
                    AS DOUBLE) AS revenue
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
          AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                               AND TIMESTAMP '1997-12-31 00:00:00'
        GROUP BY 1, 2, 3
    """,
    tags=("tpch", "join"),
)
def tpch_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: two aliases of the same dimension (supplier
    nation vs customer nation) with a symmetric nation-pair predicate —
    the classic self-aliased-dim multi-join. Both nation copies
    broadcast; the only shuffles are the lineitem⋈orders⋈customer fact
    chain."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1).cast(_MONEY) - _dec("l_discount"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
        WITH per_part AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem
            GROUP BY l_partkey
        )
        SELECT CAST(ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)))
                               AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN per_part a ON a.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND CAST(l.l_quantity AS BIGINT) * 2 * a.cnt < a.sum_qty
    """,
    tags=("tpch", "correlated-scalar"),
)
def tpch_q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar AVG subquery (revenue from
    below-half-average-quantity orders). Expressed as the de-correlated
    plan Catalyst itself produces: a per-part partial aggregate joined
    back to the fact. The threshold compare is pure integer arithmetic
    (2*qty*cnt < sum_qty) so oracle parity never rides on float
    summation order."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    per_part = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        F.count("*").cast("long").alias("cnt"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("a_partkey"))
        .filter(
            F.col("l_quantity").cast("long") * 2 * F.col("cnt") < F.col("sum_qty")
        )
        .agg(
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
        SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s.s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
    """,
    tags=("tpch", "semi-anti"),
)
def tpch_q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: EXISTS + NOT EXISTS with an inequality
    correlation (same order, different supplier) — the sole-blame
    pattern (reduced schema: l_returnflag='R' stands in for the
    receipt-after-commit lateness test). Spark plans the EXISTS as a
    left-semi and the NOT EXISTS as a left-anti join, both on the
    orderkey equi-condition with the suppkey inequality as a join
    residual — no correlated re-execution per row."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
    )
    return (
        l1.join(o, l1.l_orderkey == o.o_orderkey)
        .join(
            l2,
            (F.col("l_orderkey") == F.col("l2_orderkey"))
            & (F.col("l_suppkey") != F.col("l2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("l3_orderkey"))
            & (F.col("l_suppkey") != F.col("l3_suppkey")),
            "left_anti",
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@register(
    "tpch_q22_dormant_balance",
    oracle="""
        WITH pos AS (
            SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
                       AS sum_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_pos
            FROM customer WHERE c_acctbal > 0
        )
        SELECT SUBSTR(c.c_name, 17, 2) AS cntrycode,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS totacctbal
        FROM customer c, pos
        WHERE CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) * pos.n_pos
                  > pos.sum_cents
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY 1
    """,
    tags=("tpch", "scalar-subquery"),
)
def tpch_q22_dormant_balance(spark, sf_dir):
    """TPC-H Q22 shape: global scalar aggregate subquery (above-average
    balance) + NOT EXISTS anti-join (reduced schema: "no urgent order"
    stands in for "no order"; name-suffix digits stand in for the phone
    country code). The 1-row aggregate cross-joins as a broadcast; the
    above-average test is integer cents*count > sum_cents so parity is
    exact. Anti-join right side is pre-filtered before the shuffle."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    acct = cents("c_acctbal")
    pos = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            F.expr(f"sum({acct})").cast("long").alias("sum_cents"),
            F.count("*").cast("long").alias("n_pos"),
        )
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(F.expr(f"{acct} * n_pos > sum_cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 17, 2).alias("cntrycode"))
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.round(F.sum(_dec("c_acctbal")), 2).cast("double").alias("totacctbal"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
        WITH unit AS (
            -- exact integer ten-thousandths: ROUND(double, 4) disagrees
            -- between engines on representable .xxxx5 boundaries (caught
            -- by the sf0.1 sweep); cents*100 // qty is exact both sides
            SELECT l_partkey, l_suppkey,
                   (CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) * 100)
                       // CAST(l_quantity AS BIGINT) AS unit_e4
            FROM lineitem WHERE l_quantity > 0
        ), priced AS (
            SELECT l_partkey, l_suppkey,
                   unit_e4 / 10000.0 AS unit_price, unit_e4
            FROM unit
        )
        SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name, u.unit_price
        FROM priced u
        JOIN part p ON p.p_partkey = u.l_partkey
        JOIN supplier s ON s.s_suppkey = u.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_size <= 5
          AND u.unit_e4 = (SELECT MIN(u2.unit_e4) FROM unit u2
                           WHERE u2.l_partkey = u.l_partkey)
    """,
    tags=("tpch", "correlated-min"),
)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: correlated MIN subquery — for each part, the
    supplier(s) quoting the minimum unit price (reduced schema:
    lineitem unit price stands in for partsupp supplycost). The
    correlated MIN becomes a window-min over the partkey partition —
    one shuffle, no self-join — then dim joins (part filtered+broadcast,
    supplier->nation broadcast). Unit prices are exact integer
    ten-thousandths (cents * 100 DIV quantity) so the min-equality and
    the emitted price never ride on double rounding — ROUND(double, 4)
    disagrees between engines on representable boundaries, which the
    sf0.1 sweep caught at this query's value density."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    unit = li.select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            f"({cents('l_extendedprice')} * 100) DIV CAST(l_quantity AS BIGINT)"
        ).alias("unit_e4"),
    )
    w = Window.partitionBy("l_partkey")
    return (
        unit.withColumn("min_e4", F.min("unit_e4").over(w))
        .filter(F.col("unit_e4") == F.col("min_e4"))
        .withColumn("unit_price", F.col("unit_e4") / 10000.0)
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("p_partkey", "p_brand", "s_name", "n_name", "unit_price")
    )


# Line revenue net of discount in integer cents x percent: every gating
# comparison in q8/q9/q11/q15 rides on BIGINT arithmetic, so oracle
# parity never depends on float summation order.
_VOL_CENTS = f"{cents('l_extendedprice')} * (100 - {cents('l_discount')})"


@register(
    "tpch_q8_market_share",
    oracle="""
        WITH v AS (
            SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
                   CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT)
                     * (100 - CAST(ROUND(l.l_discount*100,0) AS BIGINT)) AS vol,
                   sn.n_name AS supp_nation
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation cn ON cn.n_nationkey = c.c_nationkey
            JOIN region r ON r.r_regionkey = cn.n_regionkey
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation sn ON sn.n_nationkey = s.s_nationkey
            WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
              AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                    AND TIMESTAMP '1997-12-31 00:00:00'
        )
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
                             THEN vol ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(vol) AS DOUBLE) AS mkt_share
        FROM v GROUP BY o_year
    """,
    tags=("tpch", "conditional-agg"),
)
def tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a region's market by year
    — a conditional aggregate RATIO over an 8-table join. The share
    numerator/denominator accumulate as exact BIGINT ten-thousandths;
    only the final division is floating point, so the 4dp rounding is
    engine-stable. Five dims broadcast; the fact chain shuffles once
    per fact-fact hop."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = table(spark, sf_dir, "supplier")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.expr(_VOL_CENTS).alias("vol")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol,
            "supp_nation",
        )
    )
    return base.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", F.col("vol")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.sum("vol").cast("double")
        ).alias("mkt_share")
    )


@register(
    "tpch_q9_product_profit",
    oracle="""
        WITH a AS (
            SELECT sn.n_name AS nation,
                   CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
                   CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT)
                     * (100 - CAST(ROUND(l.l_discount*100,0) AS BIGINT))
                     - 10 * CAST(l.l_quantity AS BIGINT)
                          * CAST(ROUND(p.p_retailprice*100,0) AS BIGINT) AS amount
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation sn ON sn.n_nationkey = s.s_nationkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE p.p_name LIKE '%widget%'
        )
        SELECT nation, o_year,
               CAST(SUM(amount) AS DOUBLE) / 10000.0 AS sum_profit
        FROM a GROUP BY nation, o_year
    """,
    tags=("tpch", "join-agg"),
)
def tpch_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier-nation and year with a LIKE
    name filter (reduced schema: 10% of retailprice stands in for
    partsupp supplycost). Profit accumulates in exact BIGINT
    ten-thousandths; the LIKE filter prunes part before its broadcast."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    amount = F.expr(
        f"{_VOL_CENTS} - 10 * CAST(l_quantity AS BIGINT) * {cents('p_retailprice')}"
    ).alias("amount")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount,
        )
        .groupBy("nation", "o_year")
        .agg(
            (F.sum("amount").cast("double") / 10000.0).alias("sum_profit")
        )
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
        WITH val AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT))
                        AS BIGINT) AS v
            FROM lineitem GROUP BY l_partkey
        ), tot AS (SELECT CAST(SUM(v) AS BIGINT) AS t FROM val)
        SELECT l_partkey AS p_partkey,
               CAST(v AS DOUBLE) / 100.0 AS part_value
        FROM val, tot
        WHERE v * 10000 > t * 8
    """,
    tags=("tpch", "having-scalar"),
)
def tpch_q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: GROUP BY ... HAVING sum > fraction * global sum
    (reduced schema: lineitem extendedprice stands in for partsupp
    stock value; threshold share 0.0008). The global total is a 1-row
    broadcast; the HAVING comparison is exact BIGINT cents, so the
    boundary part can't flip between engines."""
    li = table(spark, sf_dir, "lineitem")
    val = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.expr(f"sum({cents('l_extendedprice')})").cast("long").alias("v")
    )
    tot = val.agg(F.sum("v").cast("long").alias("t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("v") * 10000 > F.col("t") * 8)
        .select(
            "p_partkey",
            (F.col("v").cast("double") / 100.0).alias("part_value"),
        )
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT)))
                        AS BIGINT) AS r
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        ), m AS (SELECT MAX(r) AS mr FROM rev)
        SELECT s.s_suppkey, s.s_name,
               CAST(rev.r AS DOUBLE) / 10000.0 AS total_revenue
        FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey, m
        WHERE rev.r = m.mr
    """,
    tags=("tpch", "max-view"),
)
def tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the revenue view + MAX(view) equality join —
    supplier(s) hitting the quarter's max revenue. Revenue is exact
    BIGINT ten-thousandths so the max-equality can't be split by float
    tails; the max is a 1-row broadcast, not a second scan of the
    grouped view."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.expr(f"sum({_VOL_CENTS})").cast("long").alias("r")
    )
    m = rev.agg(F.max("r").alias("mr"))
    return (
        rev.crossJoin(F.broadcast(m))
        .filter(F.col("r") == F.col("mr"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("r").cast("double") / 10000.0).alias("total_revenue"),
        )
    )


@register(
    "tpch_q16_supplier_part_counts",
    oracle="""
        WITH bridge AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p.p_brand, p.p_type, p.p_size,
               CAST(COUNT(DISTINCT b.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM bridge b
        JOIN part p ON p.p_partkey = b.l_partkey
        WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
          AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND b.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                  WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("tpch", "not-in", "count-distinct"),
)
def tpch_q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part group with a
    NOT IN supplier exclusion (reduced schema: negative acctbal stands
    in for the complaints LIKE filter; lineitem's distinct
    (part, supp) pairs stand in for partsupp). NOT IN with a non-null
    key list is a left-anti join; the exclusion list broadcasts."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    bridge = li.select("l_partkey", "l_suppkey").distinct()
    return (
        bridge.join(F.broadcast(bad), bridge.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "tpch_q20_excess_stock_suppliers",
    oracle="""
        SELECT s.s_name, ROUND(s.s_acctbal, 2) AS s_acctbal
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_3'
          AND s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_name LIKE 'red%'
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING SUM(CAST(l.l_quantity AS BIGINT)) > 100
          )
    """,
    tags=("tpch", "nested-in"),
)
def tpch_q20_excess_stock_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: nested IN subqueries — suppliers in one nation
    who moved >100 units of any 'red' part (reduced schema: shipped
    quantity stands in for availqty vs half-demand). The inner
    grouped-HAVING set becomes a left-semi join; quantity sums are
    BIGINT so the HAVING boundary is exact."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    qualifying = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .filter(F.col("q") > 100)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )
