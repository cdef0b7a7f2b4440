"""Data-quality expectation checks, k-anonymity profiling, and exact
quantile binning — the validation tier a training-data pipeline runs
before a corpus snapshot is blessed (cf. Great Expectations / Deequ
check suites; the reference validates ad hoc in consumer code, e.g.
relevance_consumer's guard clauses).

Scale notes: every expectation is a single-pass aggregate over one
table (map-side partial, one-row result); the referential-integrity
check is the only join, and its fact side never expands (left join to
a unique key, at 100 TB a runtime bloom filter on the probe side keeps
the shuffle proportional to the orphan candidates — see
plans/inspect.py bloom pins). k-anonymity is one groupBy on the
quasi-identifier tuple plus a one-row rollup. Quantile binning's
exact-cutpoint path does a global sort (oracle-parity shape, fine to
sf0.1); the documented scale path swaps in approx_percentile cutpoints
which needs no sort at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.aggregations import cents, exact_sum
from ..operators.sampling import hash_deviate
from ..registry import register
from ..tables import table, values_dim

_K_ANON = 10


@register(
    "dq_expectations",
    oracle="""
        SELECT 'null_frac:orders.o_custkey' AS check_name,
               ROUND(AVG(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0.0 END), 6) AS metric,
               CAST(0.0 AS DOUBLE) AS threshold,
               ROUND(AVG(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0.0 END), 6) <= 0.0 AS passed
        FROM orders
        UNION ALL
        SELECT 'null_frac:events.value',
               ROUND(AVG(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END), 6),
               CAST(0.05 AS DOUBLE),
               ROUND(AVG(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END), 6) <= 0.05
        FROM events
        UNION ALL
        SELECT 'dup_frac:customer.c_custkey',
               ROUND(1.0 - COUNT(DISTINCT c_custkey) * 1.0 / COUNT(*), 6),
               CAST(0.0 AS DOUBLE),
               ROUND(1.0 - COUNT(DISTINCT c_custkey) * 1.0 / COUNT(*), 6) <= 0.0
        FROM customer
        UNION ALL
        SELECT 'range_viol:lineitem.l_discount',
               ROUND(AVG(CASE WHEN l_discount < 0.0 OR l_discount > 1.0
                              THEN 1.0 ELSE 0.0 END), 6),
               CAST(0.0 AS DOUBLE),
               ROUND(AVG(CASE WHEN l_discount < 0.0 OR l_discount > 1.0
                              THEN 1.0 ELSE 0.0 END), 6) <= 0.0
        FROM lineitem
        UNION ALL
        SELECT 'domain_viol:orders.o_orderstatus',
               ROUND(AVG(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                              THEN 1.0 ELSE 0.0 END), 6),
               CAST(0.0 AS DOUBLE),
               ROUND(AVG(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                              THEN 1.0 ELSE 0.0 END), 6) <= 0.0
        FROM orders
        UNION ALL
        SELECT 'orphan_frac:lineitem.l_orderkey',
               ROUND(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1.0 ELSE 0.0 END)
                     / COUNT(*), 6),
               CAST(0.0 AS DOUBLE),
               ROUND(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1.0 ELSE 0.0 END)
                     / COUNT(*), 6) <= 0.0
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    tags=("quality", "validation", "agg", "join"),
)
def dq_expectations(spark, sf_dir):
    """Expectation suite: one row per check, every metric a violation
    fraction in [0,1] compared against its threshold (passed = metric
    <= threshold, compared on the rounded value so both engines gate
    identically). Covers null fraction, key uniqueness, value range,
    accepted domain, and referential integrity — each a single-pass
    aggregate; RI is one left join against the unique build side."""
    orders = table(spark, sf_dir, "orders")
    events = table(spark, sf_dir, "events")
    customer = table(spark, sf_dir, "customer")
    lineitem = table(spark, sf_dir, "lineitem")

    def check(name: str, df: DataFrame, metric, threshold: float) -> DataFrame:
        m = F.round(metric, 6)
        return df.agg(
            F.lit(name).alias("check_name"),
            m.alias("metric"),
            F.lit(threshold).alias("threshold"),
            (m <= F.lit(threshold)).alias("passed"),
        )

    null_frac = lambda c: F.avg(F.when(F.col(c).isNull(), 1.0).otherwise(0.0))  # noqa: E731
    ri = lineitem.join(
        orders.select("o_orderkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
        "left",
    )
    return (
        check("null_frac:orders.o_custkey", orders, null_frac("o_custkey"), 0.0)
        .unionAll(check("null_frac:events.value", events, null_frac("value"), 0.05))
        .unionAll(
            check(
                "dup_frac:customer.c_custkey",
                customer,
                1.0 - F.countDistinct("c_custkey") * F.lit(1.0) / F.count("*"),
                0.0,
            )
        )
        .unionAll(
            check(
                "range_viol:lineitem.l_discount",
                lineitem,
                F.avg(
                    F.when((F.col("l_discount") < 0.0) | (F.col("l_discount") > 1.0), 1.0).otherwise(0.0)
                ),
                0.0,
            )
        )
        .unionAll(
            check(
                "domain_viol:orders.o_orderstatus",
                orders,
                F.avg(
                    F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1.0).otherwise(0.0)
                ),
                0.0,
            )
        )
        .unionAll(
            check(
                "orphan_frac:lineitem.l_orderkey",
                ri,
                F.sum(F.when(F.col("o_orderkey").isNull(), 1.0).otherwise(0.0)) / F.count("*"),
                0.0,
            )
        )
    )


@register(
    "dq_k_anonymity",
    oracle=f"""
        WITH g AS (
            SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
            FROM customer GROUP BY c_nationkey, c_mktsegment
        )
        SELECT CAST(MIN(cnt) AS BIGINT) AS k_min,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN cnt < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT) AS n_below_k,
               ROUND(SUM(CASE WHEN cnt < {_K_ANON} THEN cnt ELSE 0 END) * 1.0
                     / SUM(cnt), 6) AS frac_rows_below_k
        FROM g
    """,
    tags=("quality", "privacy", "agg"),
)
def dq_k_anonymity(spark, sf_dir):
    """k-anonymity profile over the (c_nationkey, c_mktsegment)
    quasi-identifier: smallest equivalence class, number of classes
    below k=10, and the fraction of rows they cover — the release
    gate a privacy-aware pipeline checks before publishing. One
    groupBy (map-side combined) plus a one-row rollup."""
    g = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("cnt"))
    )
    below = F.when(F.col("cnt") < _K_ANON, F.col("cnt")).otherwise(F.lit(0))
    return g.agg(
        F.min("cnt").cast("long").alias("k_min"),
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(F.col("cnt") < _K_ANON, 1).otherwise(0)).cast("long").alias("n_below_k"),
        F.round(F.sum(below) * F.lit(1.0) / F.sum("cnt"), 6).alias("frac_rows_below_k"),
    )


@register(
    "feat_quantile_binning",
    oracle="""
        WITH n AS (SELECT COUNT(*) AS n FROM orders),
        r AS (
            SELECT o_totalprice,
                   ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
            FROM orders
        ),
        cuts AS (
            SELECT MIN(CASE WHEN rn >= CEIL(0.25 * n) THEN o_totalprice END) AS c1,
                   MIN(CASE WHEN rn >= CEIL(0.50 * n) THEN o_totalprice END) AS c2,
                   MIN(CASE WHEN rn >= CEIL(0.75 * n) THEN o_totalprice END) AS c3
            FROM r, n
        )
        SELECT CASE WHEN o_totalprice <= c1 THEN 'q1'
                    WHEN o_totalprice <= c2 THEN 'q2'
                    WHEN o_totalprice <= c3 THEN 'q3'
                    ELSE 'q4' END AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                               AS DOUBLE) / COUNT(*), 2) AS DOUBLE) AS avg_price,
               ROUND(MIN(o_totalprice), 2) AS min_price,
               ROUND(MAX(o_totalprice), 2) AS max_price
        FROM orders, cuts
        GROUP BY bin
    """,
    tags=("features", "quantile", "window"),
)
def feat_quantile_binning(spark, sf_dir):
    """Quantile binning for feature engineering: exact quartile
    cutpoints (min value at or past rank ceil(p*n), fully tie-broken
    so both engines pick the identical data value) then a CASE bin
    assignment and per-bin profile. The exact global ranking uses the
    bucketed-rank device (operators/ranking.py): $1000 price bands +
    control-plane prefix-summed offsets — value-identical to the
    oracle's naive ROW_NUMBER() with no single-partition window; at 100
    TB the cutpoint CTE can also swap for approx_percentile (no rank at
    all) and keep the broadcast + CASE assignment unchanged, since
    cutpoints are a 3-value broadcast either way."""
    from ..operators.ranking import bucketed_global_rank

    orders = table(spark, sf_dir, "orders")
    n = orders.agg(F.count("*").alias("n"))
    r = bucketed_global_rank(
        orders.select("o_totalprice", "o_orderkey"),
        F.floor(F.col("o_totalprice") / 1000).cast("long"),
        [F.asc("o_totalprice"), F.asc("o_orderkey")],
        rank_col="rn",
    ).select("o_totalprice", "rn")
    cut = lambda p, name: F.min(  # noqa: E731
        F.when(F.col("rn") >= F.ceil(F.lit(p) * F.col("n")), F.col("o_totalprice"))
    ).alias(name)
    cuts = r.crossJoin(F.broadcast(n)).agg(
        cut(0.25, "c1"), cut(0.50, "c2"), cut(0.75, "c3")
    )
    binned = orders.crossJoin(F.broadcast(cuts)).withColumn(
        "bin",
        F.when(F.col("o_totalprice") <= F.col("c1"), "q1")
        .when(F.col("o_totalprice") <= F.col("c2"), "q2")
        .when(F.col("o_totalprice") <= F.col("c3"), "q3")
        .otherwise("q4"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_orders"),
        # decimal sum: AVG over a DOUBLE money column is summation-order-
        # dependent and can flip a half-cent boundary run to run (an sf1
        # audit's tpch_q3 finding, same class)
        F.round(
            F.expr(exact_sum("o_totalprice")).cast("double")
            / F.count(F.lit(1)),
            2,
        ).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register(
    "dq_split_leakage",
    # Collapsed to distinct token sets: the dup relation lives on
    # distinct-mask pairs (md5-MinHash banding is a pure function of
    # the set), and each mask group carries its per-split member
    # counts (t = test docs, r = train docs). A dup set pair (A,B)
    # contributes (tA+rA)*(tB+rB) total and tA*rB + rA*tB cross-split
    # doc pairs; a group with c >= 2 contributes C(c,2) total and
    # tA*rA cross — exactly the doc-level counts, at distinct-set cost.
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_distinct(list_filter(string_split(lower(text), ' '),
                                             t -> t <> '')) AS tok
            FROM documents
            WHERE len(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) > 0
        ), tokr AS (
            SELECT doc_id, unnest(tok) AS t FROM toks
        ), dict AS (
            SELECT t, ROW_NUMBER() OVER (ORDER BY t) - 1 AS tid
            FROM (SELECT DISTINCT t FROM tokr)
        ), m AS (
            SELECT r.doc_id, CAST(SUM(1::BIGINT << d.tid) AS BIGINT) AS mask
            FROM tokr r JOIN dict d ON r.t = d.t GROUP BY r.doc_id
        ), split AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('split:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       < 230584300921369408 AS is_test
            FROM documents
        ), g AS (
            SELECT m.mask,
                   CAST(SUM(CASE WHEN s.is_test THEN 1 ELSE 0 END) AS BIGINT) AS t,
                   CAST(SUM(CASE WHEN s.is_test THEN 0 ELSE 1 END) AS BIGINT) AS r,
                   MIN(m.doc_id) AS rep
            FROM m JOIN split s ON s.doc_id = m.doc_id
            GROUP BY m.mask
        ), mt AS (
            SELECT g.mask, r.t FROM g JOIN tokr r ON r.doc_id = g.rep
        ), hashed AS (
            SELECT mask, s.seed,
                   CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || t),
                                        1, 15)) AS BIGINT) AS h
            FROM mt CROSS JOIN (SELECT unnest(range(16)) AS seed) s
        ), sig AS (
            SELECT mask, seed, MIN(h) AS mh FROM hashed GROUP BY mask, seed
        ), bands AS (
            SELECT mask, seed // 4 AS band,
                   string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bsig
            FROM sig GROUP BY mask, seed // 4
        ), dup AS (
            SELECT DISTINCT a.mask AS ma, b.mask AS mb
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
                        AND a.mask < b.mask
            WHERE (20000 * bit_count(a.mask & b.mask)
                   + bit_count(a.mask | b.mask))
                  // (2 * bit_count(a.mask | b.mask)) >= 7000
        ), contrib AS (
            SELECT (ga.t + ga.r) * (gb.t + gb.r) AS tot,
                   ga.t * gb.r + ga.r * gb.t AS x
            FROM dup d JOIN g ga ON ga.mask = d.ma JOIN g gb ON gb.mask = d.mb
            UNION ALL
            SELECT (t + r) * (t + r - 1) // 2, t * r FROM g WHERE t + r >= 2
        )
        SELECT CAST(COALESCE(SUM(tot), 0) AS BIGINT) AS n_dup_pairs,
               CAST(COALESCE(SUM(x), 0) AS BIGINT) AS n_cross_split,
               ROUND(CAST(COALESCE(SUM(x), 0) AS DOUBLE)
                     / GREATEST(COALESCE(SUM(tot), 0), 1), 6) AS leak_fraction
        FROM contrib
    """,
    tags=("dq", "leakage", "llm-prep", "dedup"),
)
def dq_split_leakage(spark, sf_dir):
    """Split-leakage audit: how many near-duplicate pairs (md5-MinHash
    LSH, exact-Jaccard verified at 0.7) STRADDLE the deterministic
    train/test split — the contamination a random document-level split
    always has on a deduplicated-but-not-grouped corpus. The fix in a
    real pipeline is splitting by duplicate GROUP (dedup_duplicate_
    groups) instead of by document, which drives this count to zero.

    Scale: the dup relation and all counts are multiplicity-weighted
    over DISTINCT token sets (per-split member counts per set), so
    cost follows distinct content — the doc-pair formulation could not
    execute at sf1 (~500M qualifying pairs)."""
    from ..operators import setsim as SS
    from ..operators.sampling import train_test_split

    docs = table(spark, sf_dir, "documents")
    toks, masks = SS.mask_relation(docs)
    split = train_test_split(docs, test_rate=0.2).select("doc_id", "split")
    g = (
        masks.join(split, masks["id"] == split["doc_id"])
        .groupBy("mask")
        .agg(
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("long")
            .alias("t"),
            F.sum(F.when(F.col("split") == "test", 0).otherwise(1))
            .cast("long")
            .alias("r"),
            F.min("id").alias("rep"),
        )
        .localCheckpoint(eager=False)
    )
    dup = SS.minhash_md5_set_dup_pairs(SS.mask_token_rows(g, toks)).select(
        "mask_a", "mask_b"
    )
    ga = g.select(
        F.col("mask").alias("mask_a"), F.col("t").alias("ta"), F.col("r").alias("ra")
    )
    gb = g.select(
        F.col("mask").alias("mask_b"), F.col("t").alias("tb"), F.col("r").alias("rb")
    )
    cross_diff = (
        dup.join(ga, "mask_a")
        .join(gb, "mask_b")
        .select(
            ((F.col("ta") + F.col("ra")) * (F.col("tb") + F.col("rb"))).alias("tot"),
            (F.col("ta") * F.col("rb") + F.col("ra") * F.col("tb")).alias("x"),
        )
    )
    within = g.filter("t + r >= 2").select(
        F.expr("(t + r) * (t + r - 1) DIV 2").alias("tot"),
        (F.col("t") * F.col("r")).alias("x"),
    )
    return cross_diff.unionByName(within).agg(
        F.coalesce(F.sum("tot"), F.lit(0)).cast("long").alias("n_dup_pairs"),
        F.coalesce(F.sum("x"), F.lit(0)).cast("long").alias("n_cross_split"),
        F.round(
            F.coalesce(F.sum("x"), F.lit(0))
            / F.greatest(F.coalesce(F.sum("tot"), F.lit(0)), F.lit(1)),
            6,
        ).alias("leak_fraction"),
    )


def _leakfree_oracle() -> str:
    from ._oracle_cc import group_cc_prefix

    # group-level CC (sf1-feasible; see _oracle_cc.py): the split tag
    # hashes the component CANONICAL id, so per-doc tags come from the
    # dlabel map and the cross-split audit joins the weighted pair
    # terms to their endpoint groups' component splits (structurally 0
    # — every qualifying pair is an edge inside one component — but
    # computed, not pinned).
    return (
        group_cc_prefix(min_tokens=1, singletons_below=True)
        + """
        , split AS (
            SELECT doc_id,
                   CASE WHEN CAST(('0x' || substr(md5('gsplit:' ||
                             CAST(canonical AS VARCHAR)), 1, 15)) AS BIGINT)
                          < 230584300921369408
                        THEN 'test' ELSE 'train' END AS split
            FROM dlabel
        ), gsplit AS (
            SELECT gl.gid,
                   CASE WHEN CAST(('0x' || substr(md5('gsplit:' ||
                             CAST(cc.canonical AS VARCHAR)), 1, 15)) AS BIGINT)
                          < 230584300921369408
                        THEN 'test' ELSE 'train' END AS split
            FROM glabel gl JOIN ccanon cc ON cc.comp = gl.comp
        ), cross_cnt AS (
            SELECT CAST(COALESCE(SUM(p.w), 0) AS BIGINT) AS n_dup_pairs,
                   CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                                          THEN p.w ELSE 0 END), 0) AS BIGINT)
                       AS n_cross_split
            FROM wpairs p
            JOIN gsplit sa ON sa.gid = p.ga
            JOIN gsplit sb ON sb.gid = p.gbid
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM split
                WHERE split = 'test') AS n_test_docs,
               n_dup_pairs, n_cross_split,
               n_cross_split = 0 AS group_split_is_leakfree
        FROM cross_cnt
    """
    )


@register(
    "dq_group_split_leakfree",
    oracle=_leakfree_oracle(),
    tags=("dq", "leakage", "llm-prep", "dedup", "groups"),
)
def dq_group_split_leakfree(spark, sf_dir):
    """The fix for dq_split_leakage: split by duplicate GROUP (hash the
    connected-components canonical id, not the doc id), so every near-
    dup pair lands on one side by construction — n_cross_split is
    pinned 0 and the oracle replays the whole composition (blocked
    Jaccard pairs -> recursive-CTE components -> md5 group split).

    Scale: the pair list and CC are the proven dedup plans; the split
    tag is one md5 on the canonical id; the audit join is the same
    bounded pair join as dq_split_leakage."""
    from ..operators import dedup as D

    docs = table(spark, sf_dir, "documents")
    # lazy checkpoint: the blocked pair join feeds BOTH the CC
    # labeling and the audit join below — without it the quadratic pair
    # join is planned and executed once per consumer (2-3x; CC's own
    # edge materialization covers only its branch)
    pairs = D.jaccard_pairs(docs).localCheckpoint(eager=False)
    labels = D.connected_components(pairs)
    canon = (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("canon"),
        )
    )
    thr = 230584300921369408
    dev = hash_deviate(F.col("canon"), "gsplit")
    split = canon.select(
        "doc_id",
        F.when(dev < F.lit(thr), F.lit("test")).otherwise(F.lit("train")).alias("split"),
    )
    sa = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    cross = F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)
    audit = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .agg(
            F.count("*").cast("long").alias("n_dup_pairs"),
            F.sum(cross).cast("long").alias("n_cross_split"),
        )
    )
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    n_test = split.filter(F.col("split") == "test").agg(
        F.count("*").cast("long").alias("n_test_docs")
    )
    return (
        n_docs.crossJoin(n_test)
        .crossJoin(audit)
        .select(
            "n_docs",
            "n_test_docs",
            "n_dup_pairs",
            "n_cross_split",
            (F.col("n_cross_split") == 0).alias("group_split_is_leakfree"),
        )
    )


_PSI_SPLIT = "2024-01-16"
_PSI_EPS = 1e-6


@register(
    "dq_psi_drift",
    oracle=f"""
        WITH tagged AS (
            SELECT event_type, value,
                   CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref'
                        ELSE 'cur' END AS win
            FROM events
        ), cq AS (
            SELECT event_type,
                   list_transform(
                       quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                             0.6, 0.7, 0.8, 0.9]),
                       c -> ROUND(c, 6)) AS cuts
            FROM tagged WHERE win = 'ref' GROUP BY 1
        ), binned AS (
            SELECT t.event_type, t.win,
                   CAST(len(list_filter(q.cuts, c -> t.value > c))
                        AS BIGINT) AS bin
            FROM tagged t JOIN cq q USING (event_type)
        ), counts AS (
            SELECT event_type, win, bin, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM binned GROUP BY 1, 2, 3
        ), tot AS (
            SELECT event_type, win, CAST(SUM(cnt) AS BIGINT) AS n
            FROM counts GROUP BY 1, 2
        ), spine AS (
            SELECT DISTINCT event_type, b.bin
            FROM counts CROSS JOIN (SELECT unnest(range(10)) AS bin) b
        ), props AS (
            SELECT s.event_type,
                   GREATEST(CAST(COALESCE(r.cnt, 0) AS DOUBLE) /
                            rt.n, 0.000001) AS p_ref,
                   GREATEST(CAST(COALESCE(c.cnt, 0) AS DOUBLE) /
                            ct.n, 0.000001) AS p_cur,
                   rt.n AS n_ref, ct.n AS n_cur
            FROM spine s
            LEFT JOIN counts r ON r.event_type = s.event_type
                              AND r.bin = s.bin AND r.win = 'ref'
            LEFT JOIN counts c ON c.event_type = s.event_type
                              AND c.bin = s.bin AND c.win = 'cur'
            JOIN tot rt ON rt.event_type = s.event_type AND rt.win = 'ref'
            JOIN tot ct ON ct.event_type = s.event_type AND ct.win = 'cur'
        )
        SELECT event_type,
               ROUND(SUM((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi,
               MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur,
               ROUND(SUM((p_cur - p_ref) * ln(p_cur / p_ref)), 6) > 0.2
                   AS drifted
        FROM props GROUP BY 1
    """,
    tags=("dq", "drift", "mlops"),
)
def dq_psi_drift(spark, sf_dir):
    """Population stability index — the standard production drift
    monitor: decile cutpoints learned on the reference window (first
    half of the month), both windows histogrammed on those FIXED
    cutpoints (bin = how many cutpoints the value exceeds — an array
    filter, no per-row join fan-out), PSI = sum (p_cur - p_ref)
    ln(p_cur / p_ref) with the usual 1e-6 floor; types crossing the
    0.2 'significant shift' rule are flagged. Cutpoints round to 1e-6
    in both engines so bin membership never rides on float last-bits.

    Scale: cutpoints are ONE array row per type (broadcast); binning
    is a single scan with a 9-element array filter; the PSI sum runs
    over types x 10 bins."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "ref")
        .otherwise("cur")
        .alias("win"),
    )
    ref = e.filter(F.col("win") == "ref")
    cq = ref.groupBy("event_type").agg(
        F.array(
            *[
                F.round(F.expr(f"percentile(value, {k / 10.0})"), 6)
                for k in range(1, 10)
            ]
        ).alias("cuts")
    )
    binned = e.join(F.broadcast(cq), "event_type").select(
        "event_type",
        "win",
        F.size(F.filter(F.col("cuts"), lambda c: F.col("value") > c))
        .cast("long")
        .alias("bin"),
    )
    counts = binned.groupBy("event_type", "win", "bin").agg(
        F.count("*").cast("long").alias("cnt")
    )
    tot = counts.groupBy("event_type", "win").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    spine = (
        counts.select("event_type")
        .distinct()
        .crossJoin(spark.range(10).select(F.col("id").alias("bin")))
    )
    r = counts.filter(F.col("win") == "ref").select(
        "event_type", "bin", F.col("cnt").alias("ref_cnt")
    )
    c = counts.filter(F.col("win") == "cur").select(
        "event_type", "bin", F.col("cnt").alias("cur_cnt")
    )
    rt = tot.filter(F.col("win") == "ref").select(
        "event_type", F.col("n").alias("n_ref")
    )
    ct = tot.filter(F.col("win") == "cur").select(
        "event_type", F.col("n").alias("n_cur")
    )
    props = (
        spine.join(r, ["event_type", "bin"], "left")
        .join(c, ["event_type", "bin"], "left")
        .join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "event_type")
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.greatest(
                F.coalesce(F.col("ref_cnt"), F.lit(0)).cast("double") / F.col("n_ref"),
                F.lit(1e-6),
            ).alias("p_ref"),
            F.greatest(
                F.coalesce(F.col("cur_cnt"), F.lit(0)).cast("double") / F.col("n_cur"),
                F.lit(1e-6),
            ).alias("p_cur"),
        )
    )
    term = (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))
    return props.groupBy("event_type").agg(
        F.round(F.sum(term), 6).alias("psi"),
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        (F.round(F.sum(term), 6) > 0.2).alias("drifted"),
    )


@register(
    "stat_welch_ttest",
    oracle="""
        WITH tagged AS (
            SELECT event_type, value,
                   CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a'
                        ELSE 'b' END AS win
            FROM events
        ), m AS (
            SELECT event_type, win,
                   AVG(value) AS mean, VAR_SAMP(value) AS var,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM tagged GROUP BY 1, 2
        ), wide AS (
            SELECT a.event_type,
                   a.mean AS mean_a, a.var AS var_a, a.n AS n_a,
                   b.mean AS mean_b, b.var AS var_b, b.n AS n_b
            FROM m a JOIN m b USING (event_type)
            WHERE a.win = 'a' AND b.win = 'b'
        )
        SELECT event_type, n_a, n_b,
               ROUND(mean_a - mean_b, 6) AS mean_diff,
               ROUND((mean_a - mean_b) /
                     sqrt(var_a / n_a + var_b / n_b), 4) AS t_stat,
               ROUND(POW(var_a / n_a + var_b / n_b, 2) /
                     (POW(var_a / n_a, 2) / (n_a - 1)
                      + POW(var_b / n_b, 2) / (n_b - 1)), 2) AS welch_df,
               ABS(ROUND((mean_a - mean_b) /
                         sqrt(var_a / n_a + var_b / n_b), 4)) > 1.96
                   AS significant_5pct
        FROM wide
    """,
    tags=("stats", "dq", "ab-test"),
)
def stat_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test per event_type between the two
    halves of the month — the A/B-comparison / regression-monitor
    primitive (PSI flags distribution shape shift; this flags MEAN
    shift with a significance gate). Everything is two aggregation
    passes over the events scan; the Welch-Satterthwaite df and the
    1.96 two-sided 5% gate are plain expressions, rounded identically
    in both engines so the flag never rides float last-bits."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "a")
        .otherwise("b")
        .alias("win"),
    )
    m = e.groupBy("event_type", "win").agg(
        F.avg("value").alias("mean"),
        F.var_samp("value").alias("var"),
        F.count("*").cast("long").alias("n"),
    )
    a = m.filter(F.col("win") == "a").select(
        "event_type",
        F.col("mean").alias("mean_a"), F.col("var").alias("var_a"),
        F.col("n").alias("n_a"),
    )
    b = m.filter(F.col("win") == "b").select(
        "event_type",
        F.col("mean").alias("mean_b"), F.col("var").alias("var_b"),
        F.col("n").alias("n_b"),
    )
    se2 = F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)
    df = F.pow(se2, 2) / (
        F.pow(F.col("var_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
        + F.pow(F.col("var_b") / F.col("n_b"), 2) / (F.col("n_b") - 1)
    )
    return a.join(b, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        F.round(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("welch_df"),
        (F.abs(F.round(t, 4)) > 1.96).alias("significant_5pct"),
    )


@register(
    "dq_benford_digits",
    oracle="""
        WITH digits AS (
            SELECT CAST(substr(CAST(CAST(FLOOR(ABS(value)) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INTEGER) AS d
            FROM events WHERE ABS(value) >= 1
        ), obs AS (
            SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt FROM digits GROUP BY 1
        ), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM obs),
        spine AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS d),
        full_t AS (
            SELECT s.d, COALESCE(o.cnt, 0) AS cnt, t.n,
                   ln(1.0 + 1.0 / s.d) / ln(10.0) AS p_benford
            FROM spine s LEFT JOIN obs o USING (d), tot t
        )
        SELECT d, cnt,
               ROUND(CAST(cnt AS DOUBLE) / n, 6) AS p_observed,
               ROUND(p_benford, 6) AS p_benford,
               ROUND(POW(CAST(cnt AS DOUBLE) / n - p_benford, 2)
                     / p_benford * n, 4) AS chi2_term
        FROM full_t
    """,
    tags=("dq", "benford", "fraud"),
)
def dq_benford_digits(spark, sf_dir):
    """Benford's-law first-digit profile of events.value — the
    classic fabricated-data / instrumentation-bug detector: observed
    leading-digit frequencies beside the log-law expectation with
    per-digit chi-square contributions (sum them against the chi2(8)
    critical value downstream). One scan -> 9-row digit rollup; the
    digit extraction is integer/string arithmetic identical in both
    engines (no float log10 flooring, which disagrees at powers of
    ten)."""
    e = table(spark, sf_dir, "events").filter(F.abs(F.col("value")) >= 1)
    digits = e.select(
        F.substring(
            F.floor(F.abs(F.col("value"))).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count("*").cast("long").alias("cnt"))
    tot = obs.agg(F.sum("cnt").cast("long").alias("n"))
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    p_benford = F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    full_t = (
        spine.join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
            "n",
            p_benford.alias("p_benford"),
        )
    )
    p_obs = F.col("cnt").cast("double") / F.col("n")
    return full_t.select(
        "d",
        "cnt",
        F.round(p_obs, 6).alias("p_observed"),
        F.round(F.col("p_benford"), 6).alias("p_benford"),
        F.round(
            F.pow(p_obs - F.col("p_benford"), 2) / F.col("p_benford") * F.col("n"), 4
        ).alias("chi2_term"),
    )


@register(
    "dq_quarantine_malformed",
    oracle="""
        WITH raw AS (
            SELECT event_type,
                   CASE WHEN event_id % 7 = 0
                        THEN 'x' || props ELSE props END AS payload
            FROM events
        ), routed AS (
            SELECT event_type,
                   CASE WHEN json_valid(payload)
                        THEN CAST(json_extract(payload, '$.k') AS BIGINT)
                        END AS k,
                   NOT json_valid(payload) AS quarantined
            FROM raw
        )
        SELECT event_type,
               CAST(SUM(CASE WHEN quarantined THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_parsed,
               CAST(SUM(CASE WHEN quarantined THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_quarantined,
               CAST(SUM(CASE WHEN NOT quarantined THEN k END) AS BIGINT)
                   AS sum_k
        FROM routed GROUP BY 1
    """,
    tags=("dq", "quarantine", "bronze"),
)
def dq_quarantine_malformed(spark, sf_dir):
    """Bronze-layer quarantine routing: parse each record's JSON payload
    with an explicit schema (PERMISSIVE semantics: malformed input
    lands in the corrupt-record column instead of failing the job),
    route parse-failures to the quarantine leg, and roll both legs up per
    type with a checksum over the parsed field. Malformation is
    injected deterministically (event_id % 7 — same device as the PII
    oracle) because the clean testdata parses 100%. The reference's
    scrapers crash on malformed records; a 100 TB ingest must count
    and keep them instead. One scan, no UDF — from_json is codegen."""
    from pyspark.sql import types as T

    e = table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 7 == 0, F.concat(F.lit("x"), F.col("props"))
    ).otherwise(F.col("props"))
    # PERMISSIVE from_json yields an all-null struct on malformed input
    # (never a null struct), so detection needs the corrupt-record
    # column — the same contract spark.read.json uses for bronze loads
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("_bad", T.StringType())]
    )
    parsed = e.select(
        "event_type",
        F.from_json(
            payload, schema, {"columnNameOfCorruptRecord": "_bad"}
        ).alias("p"),
    ).select(
        "event_type",
        F.col("p.k").alias("k"),
        F.col("p._bad").isNotNull().alias("quarantined"),
    )
    return parsed.groupBy("event_type").agg(
        F.sum(F.when(F.col("quarantined"), 0).otherwise(1))
        .cast("long")
        .alias("n_parsed"),
        F.sum(F.when(F.col("quarantined"), 1).otherwise(0))
        .cast("long")
        .alias("n_quarantined"),
        F.sum(F.when(~F.col("quarantined"), F.col("k"))).cast("long").alias("sum_k"),
    )


_L_DIV = 3


@register(
    "dq_l_diversity",
    oracle=f"""
        WITH g AS (
            SELECT c_nationkey, c_mktsegment,
                   COUNT(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT)) AS l_exact,
                   COUNT(*) AS cnt
            FROM customer GROUP BY c_nationkey, c_mktsegment
        )
        SELECT CAST(MIN(l_exact) AS BIGINT) AS l_min,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN l_exact < {_L_DIV} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_below_l,
               ROUND(SUM(CASE WHEN l_exact < {_L_DIV} THEN cnt ELSE 0 END) * 1.0
                     / SUM(cnt), 6) AS frac_rows_below_l
        FROM g
    """,
    tags=("quality", "privacy", "agg"),
)
def dq_l_diversity(spark, sf_dir):
    """l-diversity companion to dq_k_anonymity: per quasi-identifier
    class, the count of DISTINCT sensitive values (the account-balance
    band, floor(acctbal/2000), as the sensitive attribute) — k-anonymity alone permits
    a class where every member shares the sensitive value, which is
    exactly the homogeneity attack l-diversity counts. Same single
    groupBy + one-row rollup shape; the distinct-count is per-class
    partial-aggregable."""
    g = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.countDistinct(F.floor(F.col("c_acctbal") / 2000.0).cast("long")).alias("l_exact"),
            F.count("*").alias("cnt"),
        )
    )
    below_rows = F.when(F.col("l_exact") < _L_DIV, F.col("cnt")).otherwise(F.lit(0))
    return g.agg(
        F.min("l_exact").cast("long").alias("l_min"),
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(F.col("l_exact") < _L_DIV, 1).otherwise(0))
        .cast("long")
        .alias("n_below_l"),
        F.round(F.sum(below_rows) * F.lit(1.0) / F.sum("cnt"), 6).alias(
            "frac_rows_below_l"
        ),
    )


@register(
    "dq_observe_metrics",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_value_cents,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clicks,
               CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS max_value_cents
        FROM events
    """,
    tags=("quality", "observe", "metrics"),
)
def dq_observe_metrics(spark, sf_dir):
    """Spark-native `observe()` metrics: the data-quality counters ride
    the SAME pass as the (noop-sunk) main action — zero extra scans,
    which at 100 TB is the difference between free monitoring and
    doubling the read. The observed values are re-emitted as a
    LocalRelation row; exact integer cents keep the sum
    order-insensitive. The reference re-reads its tables to compute
    dashboard counters (src/dashboard/app.py aggregates); observe()
    is the engine-native form."""
    from pyspark.sql import Observation

    value_cents = cents("value")
    obs = Observation("dq")
    df = table(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(f"sum({value_cents})").alias("sum_value_cents"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "n_clicks"
        ),
        F.expr(f"max({value_cents})").alias("max_value_cents"),
    )
    df.write.format("noop").mode("overwrite").save()
    m = obs.get
    return values_dim(
        spark,
        [
            (
                int(m["n_rows"]),
                int(m["sum_value_cents"]),
                int(m["n_clicks"]),
                int(m["max_value_cents"]),
            )
        ],
        "n_rows bigint, sum_value_cents bigint, n_clicks bigint,"
        " max_value_cents bigint",
    )


def _calibration_oracle() -> str:
    from ..operators.relevance import (
        HAZARD_VOCAB,
        PRIMARY_VOCAB,
        SECONDARY_VOCAB,
    )

    def arr(vocab):
        return "[" + ", ".join(f"'{k}'" for k in vocab) + "]"

    return f"""
        WITH m AS (
            SELECT doc_id,
                   len(list_filter({arr(PRIMARY_VOCAB)},
                                   k -> contains(lower(text), k))) AS np,
                   len(list_filter({arr(SECONDARY_VOCAB)},
                                   k -> contains(lower(text), k))) AS ns,
                   len(list_filter({arr(HAZARD_VOCAB)},
                                   k -> contains(lower(text), k))) AS nh,
                   length(text) AS lt
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   CAST(ROUND(LEAST(0.9, 0.25 * np + 0.1 * ns) * 100)
                        AS BIGINT) AS conf_pct,
                   CASE WHEN lt >= 5 AND (np > 0 OR ns >= 2 OR nh > 0)
                        THEN 1 ELSE 0 END AS y
            FROM m
        )
        SELECT CAST(conf_pct // 10 AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(conf_pct) * 1.0 / COUNT(*) / 100.0, 4)
                   AS mean_confidence,
               ROUND(SUM(y) * 1.0 / COUNT(*), 4) AS frac_relevant
        FROM scored GROUP BY 1
    """


@register(
    "eval_calibration_bins",
    oracle=_calibration_oracle(),
    tags=("eval", "calibration", "relevance"),
)
def eval_calibration_bins(spark, sf_dir):
    """Reliability diagram for the relevance stage's confidence score:
    decile bins of confidence vs the realized relevant fraction — the
    model-evaluation check that says whether 'confidence 0.7' MEANS
    70% (the reference publishes confidence,
    relevance_consumer.py:251-264, but never audits it). Confidence is
    carried as exact integer percent (ROUND(conf*100)) so bin
    membership and both ratios are integer arithmetic at any
    summation order; only the two final divisions touch floats, on
    identical operands in both engines. One tiny-key groupBy."""
    from ..operators.relevance import extract_relevance

    d = extract_relevance(table(spark, sf_dir, "documents"))
    conf_pct = F.round(F.col("confidence") * 100).cast("long")
    scored = d.select(
        conf_pct.alias("conf_pct"),
        F.col("is_relevant").cast("int").alias("y"),
    )
    return (
        scored.groupBy(F.expr("conf_pct DIV 10").cast("long").alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(
                F.sum("conf_pct") * 1.0 / F.count("*") / 100.0, 4
            ).alias("mean_confidence"),
            F.round(F.sum("y") * 1.0 / F.count("*"), 4).alias(
                "frac_relevant"
            ),
        )
    )

