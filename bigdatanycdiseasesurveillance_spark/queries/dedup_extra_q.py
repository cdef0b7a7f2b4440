"""Dedup queries registered AFTER the driver-gate prefix (rows arrive
in a later round; prefix slots stay with queries still missing rows)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text_funcs import distinct_tokens
from ..operators import dedup as D
from ..registry import register
from ..sources.sinks import scratch_dir
from ..tables import table


@register(
    "dedup_simhash_md5",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_distinct(list_filter(string_split(lower(text), ' '),
                                             t -> t <> '')) AS tok
            FROM documents
        ), tokr AS (
            SELECT doc_id, unnest(tok) AS t FROM toks
        ), th AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('sim:' || t), 1, 15)) AS BIGINT) AS h
            FROM tokr
        ), bits AS (
            SELECT doc_id, bb.b,
                   SUM((h >> bb.b) & 1) AS ones, COUNT(*) AS n
            FROM th CROSS JOIN (SELECT unnest(range(48)) AS b) bb
            GROUP BY doc_id, bb.b
        ), sig AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN 2 * ones > n
                                 THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
                                 ELSE 0 END) AS BIGINT) AS sig
            FROM bits GROUP BY doc_id
        ), chunks AS (
            SELECT doc_id, sig, cc.c,
                   (sig >> (16 * CAST(cc.c AS INTEGER))) & 65535 AS chunk
            FROM sig CROSS JOIN (SELECT unnest(range(3)) AS c) cc
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, a.sig AS sig_a,
                            b.doc_id AS id_b, b.sig AS sig_b
            FROM chunks a
            JOIN chunks b ON a.c = b.c AND a.chunk = b.chunk
                         AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(sig_a, sig_b)) <= 8
    """,
    tags=("dedup", "M2", "simhash", "oracle-replayable"),
)
def dedup_simhash_md5(spark, sf_dir):
    """SimHash near-dup pairs on an md5-derived hash family: the full
    pipeline (per-token hash -> 48 bit votes -> signature -> 16-bit
    chunk blocking -> Hamming verify) replayed bit-for-bit by DuckDB.
    The xxhash64 simhash stays the fast path; this row proves the
    bit-vote/blocking algorithm itself."""
    return D.simhash_md5_pairs(table(spark, sf_dir, "documents"))


@register(
    "dedup_containment_pairs",
    # Per-source weighted stats contract over DISTINCT token sets (the
    # pair-list output is quadratic on template-heavy corpora — the r5
    # sf1 audit's finding): a qualifying set pair (A,B) in a source
    # stands for c_A*c_B doc pairs; a set with c >= 2 for C(c,2) pairs
    # at containment exactly 1.0 both ways. Containment is emitted as
    # the direction-SYMMETRIC (max, min) pair — i/min(|A|,|B|) and
    # i/max(|A|,|B|) — because the a-in-b direction of a doc pair
    # depends on id interleaving, which multiplicity weights cannot
    # see. All values integer-exact fixed point; the digest is the
    # repo's order-insensitive md5 modular sum.
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
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
        ), g AS (
            SELECT t.source, m.mask, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks t JOIN m ON m.doc_id = t.doc_id
            GROUP BY 1, 2
        ), cp AS (
            SELECT a.source, a.mask AS ma, b.mask AS mb, a.c * b.c AS w,
                   CAST(bit_count(a.mask & b.mask) AS BIGINT) AS i,
                   LEAST(CAST(bit_count(a.mask) AS BIGINT),
                         CAST(bit_count(b.mask) AS BIGINT)) AS smin,
                   GREATEST(CAST(bit_count(a.mask) AS BIGINT),
                            CAST(bit_count(b.mask) AS BIGINT)) AS smax
            FROM g a JOIN g b ON a.source = b.source AND a.mask < b.mask
        ), terms AS (
            SELECT source, w,
                   (20000 * i + smin) // (2 * smin) AS cmax_e4,
                   (20000 * i + smax) // (2 * smax) AS cmin_e4,
                   ma, mb
            FROM cp WHERE 10 * i >= 9 * smin
            UNION ALL
            SELECT source, c * (c - 1) // 2, 10000, 10000, mask, mask
            FROM g WHERE c >= 2
        ), ht AS (
            SELECT source, w, cmax_e4, cmin_e4,
                   CAST(('0x' || substr(md5(source || ':'
                        || CAST(ma AS VARCHAR) || ':'
                        || CAST(mb AS VARCHAR) || ':'
                        || CAST(cmax_e4 AS VARCHAR) || ':'
                        || CAST(cmin_e4 AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 1000003 AS hv
            FROM terms
        )
        SELECT g.source,
               CAST(SUM(g.c) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_sets,
               CAST(COALESCE(h.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(COALESCE(h.cmaxs, 0) AS BIGINT) AS contain_max_sum_e4,
               CAST(COALESCE(h.cmins, 0) AS BIGINT) AS contain_min_sum_e4,
               CAST(COALESCE(h.dg, 0) AS BIGINT) AS pair_digest
        FROM g
        LEFT JOIN (
            SELECT source, SUM(w) AS n_pairs,
                   SUM(w * cmax_e4) AS cmaxs,
                   SUM(w * cmin_e4) AS cmins,
                   SUM((w * hv) % 1000003) % 1000003 AS dg
            FROM ht GROUP BY source
        ) h ON h.source = g.source
        GROUP BY g.source, h.n_pairs, h.cmaxs, h.cmins, h.dg
    """,
    tags=("dedup", "M2", "containment", "llm-prep"),
)
def dedup_containment_pairs(spark, sf_dir):
    """Asymmetric near-dup (containment) audit: |A∩B| / |A| — the
    detector for quotes, excerpts, and boilerplate-wrapped copies that
    symmetric Jaccard misses (a short doc inside a long one has low
    Jaccard but containment ~1). Blocked by source only — unlike
    Jaccard, containment pairs CROSS length buckets by nature, so a
    length-bucket block would hide exactly the pairs this op exists to
    find; at corpus scale the unbounded-block path is the PPJoin-style
    prefix filter over the SHORTER side's rare tokens.

    Folds the max(containment) >= 0.9 pair multiset to one
    multiplicity-weighted stats row per source: (n_docs, n_sets,
    n_pairs, symmetric max/min containment fixed-point sums, pair
    digest) — corpus-linear output, distinct-set-pair cost."""
    from ..operators import setsim as SS

    docs = table(spark, sf_dir, "documents")
    _, masks = SS.mask_relation(docs, extra_cols=("source",))
    g = (
        masks.groupBy("source", "mask")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    a = g.select(
        "source", F.col("mask").alias("mask_a"), F.col("c").alias("c_a")
    )
    b = g.select(
        "source", F.col("mask").alias("mask_b"), F.col("c").alias("c_b")
    )
    i = F.expr("bit_count(mask_a & mask_b)").cast("long")
    smin = F.least(
        F.expr("bit_count(mask_a)").cast("long"),
        F.expr("bit_count(mask_b)").cast("long"),
    )
    smax = F.greatest(
        F.expr("bit_count(mask_a)").cast("long"),
        F.expr("bit_count(mask_b)").cast("long"),
    )
    cross = (
        a.join(b, "source")
        .filter(F.col("mask_a") < F.col("mask_b"))
        .select(
            "source",
            (F.col("c_a") * F.col("c_b")).alias("w"),
            i.alias("i"),
            smin.alias("smin"),
            smax.alias("smax"),
            "mask_a",
            "mask_b",
        )
        .filter(F.expr("10 * i >= 9 * smin"))
        .select(
            "source",
            "w",
            F.expr("(20000 * i + smin) DIV (2 * smin)").alias("cmax_e4"),
            F.expr("(20000 * i + smax) DIV (2 * smax)").alias("cmin_e4"),
            "mask_a",
            "mask_b",
        )
    )
    within = g.filter("c >= 2").select(
        "source",
        F.expr("c * (c - 1) DIV 2").alias("w"),
        F.lit(10000).cast("long").alias("cmax_e4"),
        F.lit(10000).cast("long").alias("cmin_e4"),
        F.col("mask").alias("mask_a"),
        F.col("mask").alias("mask_b"),
    )
    terms = cross.unionByName(within)
    stats = terms.groupBy("source").agg(
        F.sum("w").cast("long").alias("n_pairs"),
        F.sum(F.col("w") * F.col("cmax_e4")).cast("long").alias("contain_max_sum_e4"),
        F.sum(F.col("w") * F.col("cmin_e4")).cast("long").alias("contain_min_sum_e4"),
        SS.weighted_digest("source", "mask_a", "mask_b", "cmax_e4", "cmin_e4")
        .cast("long")
        .alias("pair_digest"),
    )
    totals = g.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_sets"),
    )
    return totals.join(stats, "source", "left").select(
        "source",
        "n_docs",
        "n_sets",
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("contain_max_sum_e4", F.lit(0))
        .cast("long")
        .alias("contain_max_sum_e4"),
        F.coalesce("contain_min_sum_e4", F.lit(0))
        .cast("long")
        .alias("contain_min_sum_e4"),
        F.coalesce("pair_digest", F.lit(0)).cast("long").alias("pair_digest"),
    )


@register(
    "dedup_blocking_quality",
    # Collapsed counting, identical audit values: n_all_pairs = C(n,2)
    # needs only the corpus count; n_candidates sums C(block,2) per
    # (source, bucket); the true-pair counts are multiplicity-weighted
    # over distinct token sets (globally, and per block). The audit
    # SEMANTICS — completeness/reduction of the blocking scheme against
    # the full all-pairs space — are unchanged; the all-pairs space is
    # counted, never materialized.
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
                   CAST(floor(n_chars / 50) AS BIGINT) AS bkt,
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
        ), mb AS (
            SELECT t.doc_id, t.source, t.bkt, m.mask
            FROM toks t JOIN m ON m.doc_id = t.doc_id
        ), nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM mb
        ), blocks AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS bc
            FROM mb GROUP BY source, bkt
        ), ga AS (
            SELECT mask, CAST(COUNT(*) AS BIGINT) AS c FROM mb GROUP BY mask
        ), gb AS (
            SELECT source, bkt, mask, CAST(COUNT(*) AS BIGINT) AS c
            FROM mb GROUP BY 1, 2, 3
        ), tg AS (
            SELECT SUM(w) AS v FROM (
                SELECT a.c * b.c AS w FROM ga a JOIN ga b ON a.mask < b.mask
                WHERE 10 * CAST(bit_count(a.mask & b.mask) AS INTEGER)
                      >= 7 * CAST(bit_count(a.mask | b.mask) AS INTEGER)
                UNION ALL
                SELECT c * (c - 1) // 2 FROM ga WHERE c >= 2)
        ), tb AS (
            SELECT SUM(w) AS v FROM (
                SELECT a.c * b.c AS w FROM gb a JOIN gb b
                  ON a.source = b.source AND a.bkt = b.bkt AND a.mask < b.mask
                WHERE 10 * CAST(bit_count(a.mask & b.mask) AS INTEGER)
                      >= 7 * CAST(bit_count(a.mask | b.mask) AS INTEGER)
                UNION ALL
                SELECT c * (c - 1) // 2 FROM gb WHERE c >= 2)
        )
        SELECT CAST(n * (n - 1) // 2 AS BIGINT) AS n_all_pairs,
               CAST(cand AS BIGINT) AS n_candidates,
               CAST(tv AS BIGINT) AS n_true_pairs,
               CAST(bv AS BIGINT) AS n_true_in_block,
               ROUND(CAST(bv AS DOUBLE) / GREATEST(tv, 1), 6)
                   AS pair_completeness,
               ROUND(1.0 - CAST(cand AS DOUBLE) / (n * (n - 1) // 2), 6)
                   AS reduction_ratio
        FROM (
            SELECT (SELECT n FROM nn) AS n,
                   (SELECT COALESCE(SUM(bc * (bc - 1) // 2), 0) FROM blocks)
                       AS cand,
                   (SELECT COALESCE(v, 0) FROM tg) AS tv,
                   (SELECT COALESCE(v, 0) FROM tb) AS bv
        )
    """,
    tags=("dedup", "blocking", "audit"),
)
def dedup_blocking_quality(spark, sf_dir):
    """Blocking-scheme audit (entity-resolution style): pair
    completeness (recall of true Jaccard>=0.7 pairs inside the
    (source, length-bucket) blocks) and reduction ratio (fraction of
    the all-pairs space the blocks prune). Run it whenever the
    blocking scheme changes. The all-pairs denominator is COUNTED in
    closed form (C(n,2), C(block,2) per block, and multiplicity-
    weighted distinct-set pairs for the true relation) — the audit
    keeps its full-space semantics without ever materializing a pair.

    On the synthetic corpus the verdict it returns is itself the
    lesson: ~44% of ALL pairs are near-dups (template-generated text),
    almost all CROSS-source, so source-blocking shows ~0.6% pair
    completeness at 99.5% reduction — source blocking encodes the
    policy "dedup within source", and when cross-source dups matter
    the unblocked paths (MinHash-LSH, PPJoin) are the ones to run.
    The audit makes that trade-off a measured number instead of an
    assumption."""
    from ..operators import setsim as SS

    docs = table(spark, sf_dir, "documents")
    _, masks = SS.mask_relation(
        docs, extra_cols=("source", F.floor(F.col("n_chars") / 50).alias("bkt"))
    )
    masks = masks.localCheckpoint(eager=False)
    nn = masks.agg(F.count("*").cast("long").alias("n"))
    cand = (
        masks.groupBy("source", "bkt")
        .agg(F.count("*").cast("long").alias("bc"))
        .agg(
            F.coalesce(F.sum(F.expr("bc * (bc - 1) DIV 2")), F.lit(0))
            .cast("long")
            .alias("cand")
        )
    )

    # weighted true-pair mass, globally and per block
    ga = masks.groupBy("mask").agg(F.count("*").cast("long").alias("c"))
    gbk = masks.groupBy("source", "bkt", "mask").agg(
        F.count("*").cast("long").alias("c")
    )
    qual = F.expr("10 * bit_count(mask_a & mask_b) >= 7 * bit_count(mask_a | mask_b)")
    tg_cross = (
        ga.select(F.col("mask").alias("mask_a"), F.col("c").alias("c_a"))
        .join(
            ga.select(F.col("mask").alias("mask_b"), F.col("c").alias("c_b")),
            F.col("mask_a") < F.col("mask_b"),
        )
        .filter(qual)
        .agg(F.coalesce(F.sum(F.col("c_a") * F.col("c_b")), F.lit(0)).alias("v"))
    )
    tg_within = ga.filter("c >= 2").agg(
        F.coalesce(F.sum(F.expr("c * (c - 1) DIV 2")), F.lit(0)).alias("v")
    )
    tb_cross = (
        gbk.select(
            "source", "bkt", F.col("mask").alias("mask_a"), F.col("c").alias("c_a")
        )
        .join(
            gbk.select(
                "source", "bkt", F.col("mask").alias("mask_b"), F.col("c").alias("c_b")
            ),
            ["source", "bkt"],
        )
        .filter(F.col("mask_a") < F.col("mask_b"))
        .filter(qual)
        .agg(F.coalesce(F.sum(F.col("c_a") * F.col("c_b")), F.lit(0)).alias("v"))
    )
    tb_within = gbk.filter("c >= 2").agg(
        F.coalesce(F.sum(F.expr("c * (c - 1) DIV 2")), F.lit(0)).alias("v")
    )
    tv = (F.col("tgc") + F.col("tgw")).alias("tv")
    bv = (F.col("tbc") + F.col("tbw")).alias("bv")
    return (
        nn.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(tg_cross.select(F.col("v").alias("tgc"))))
        .crossJoin(F.broadcast(tg_within.select(F.col("v").alias("tgw"))))
        .crossJoin(F.broadcast(tb_cross.select(F.col("v").alias("tbc"))))
        .crossJoin(F.broadcast(tb_within.select(F.col("v").alias("tbw"))))
        .select(
            F.expr("n * (n - 1) DIV 2").cast("long").alias("n_all_pairs"),
            F.col("cand").cast("long").alias("n_candidates"),
            tv.cast("long").alias("n_true_pairs"),
            bv.cast("long").alias("n_true_in_block"),
            F.round(
                bv.cast("double") / F.greatest(tv, F.lit(1)), 6
            ).alias("pair_completeness"),
            F.round(
                F.lit(1.0) - F.col("cand") / F.expr("n * (n - 1) DIV 2"), 6
            ).alias("reduction_ratio"),
        )
    )


@register(
    "dedup_incremental_new_vs_old",
    # Weighted stats contract over DISTINCT token sets: the md5-MinHash
    # banding is a pure function of the set, so the new-vs-old band
    # probe runs once per distinct mask and every qualifying
    # (new-set, old-set) pair stands for c_new*c_old doc pairs. The
    # whole pipeline — per-seed md5 hashes, groupBy-min signatures,
    # band equi-join, exact verify — replays bit-for-bit in DuckDB.
    oracle="""
        WITH toks AS (
            SELECT doc_id, doc_id % 5 = 0 AS is_new,
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
        ), gm AS (
            SELECT mask, MIN(doc_id) AS rep FROM m GROUP BY mask
        ), gn AS (
            SELECT m.mask, CAST(COUNT(*) AS BIGINT) AS c
            FROM m JOIN toks t ON t.doc_id = m.doc_id
            WHERE t.is_new GROUP BY m.mask
        ), go AS (
            SELECT m.mask, CAST(COUNT(*) AS BIGINT) AS c
            FROM m JOIN toks t ON t.doc_id = m.doc_id
            WHERE NOT t.is_new GROUP BY m.mask
        ), mt AS (
            SELECT gm.mask, r.t FROM gm JOIN tokr r ON r.doc_id = gm.rep
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
        ), cand AS (
            SELECT DISTINCT bn.mask AS mn, bo.mask AS mo
            FROM bands bn
            JOIN bands bo ON bn.band = bo.band AND bn.bsig = bo.bsig
            JOIN gn ON gn.mask = bn.mask
            JOIN go ON go.mask = bo.mask
        ), q AS (
            SELECT c.mn, c.mo,
                   (20000 * bit_count(c.mn & c.mo) + bit_count(c.mn | c.mo))
                   // (2 * bit_count(c.mn | c.mo)) AS je4,
                   gn.c * go.c AS w
            FROM cand c JOIN gn ON gn.mask = c.mn JOIN go ON go.mask = c.mo
            WHERE (20000 * bit_count(c.mn & c.mo) + bit_count(c.mn | c.mo))
                  // (2 * bit_count(c.mn | c.mo)) >= 7000
        ), ht AS (
            SELECT w, je4,
                   CAST(('0x' || substr(md5(CAST(mn AS VARCHAR) || ':'
                        || CAST(mo AS VARCHAR) || ':'
                        || CAST(je4 AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 1000003 AS hv
            FROM q
        )
        SELECT (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM gn) AS n_new_docs,
               (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM go) AS n_old_docs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM gn) AS n_new_sets,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM go) AS n_old_sets,
               CAST(COALESCE(SUM(w), 0) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(w * je4), 0) AS BIGINT) AS jaccard_sum_e4,
               CAST(COALESCE(SUM((w * hv) % 1000003) % 1000003, 0) AS BIGINT)
                   AS pair_digest
        FROM ht
    """,
    tags=("dedup", "incremental", "lsh", "llm-prep"),
)
def dedup_incremental_new_vs_old(spark, sf_dir):
    """Incremental-ingest dedup: MinHash-LSH near-dup mass between the
    NEW batch (doc_id % 5 == 0 stands in for the arriving delta) and
    the EXISTING corpus only — the band join probes new signatures
    against existing ones, so neither old x old (already deduped) nor
    new x new (a separate tiny self-call) is recomputed. At 100 TB the
    existing side's band table is a maintained ingest artifact, making
    each batch cost hash(batch) + one equi-join — the only dedup shape
    that stays flat as the corpus grows. Folded to the multiplicity-
    weighted stats row (n_new/old docs and sets, weighted pair count,
    exact fixed-point jaccard sum, order-insensitive digest): the pair
    LIST is quadratic on template-heavy corpora (the r5 sf1 finding).
    operators.dedup.minhash_md5_pairs is the doc-level pair reference."""
    from ..operators import setsim as SS

    docs = table(spark, sf_dir, "documents")
    toks, masks = SS.mask_relation(
        docs, extra_cols=((F.col("doc_id") % 5 == 0).alias("is_new"),)
    )
    # one materialization feeding gm/gn/go (each checkpoint below was
    # re-running the whole mask_relation subtree) (r14)
    masks = masks.localCheckpoint(eager=False)
    gm = (
        masks.groupBy("mask")
        .agg(F.min("id").alias("rep"))
        .localCheckpoint(eager=False)
    )
    gn = (
        masks.filter("is_new")
        .groupBy("mask")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    go = (
        masks.filter("NOT is_new")
        .groupBy("mask")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    # the md5-minhash band table feeds BOTH sides of the band join;
    # minhash_md5_set_bands materializes it once
    banded = SS.minhash_md5_set_bands(SS.mask_token_rows(gm, toks))
    cand = (
        banded.alias("bn")
        .join(F.broadcast(gn.select("mask")), "mask", "left_semi")
        .select(F.col("mask").alias("mn"), "band", "bsig")
        .join(
            banded.alias("bo")
            .join(F.broadcast(go.select("mask")), "mask", "left_semi")
            .select(F.col("mask").alias("mo"), "band", "bsig"),
            ["band", "bsig"],
        )
        .select("mn", "mo")
        .distinct()
    )
    q = (
        cand.withColumn("je4", SS.je4_expr("mn", "mo"))
        .filter(F.col("je4") >= 7000)
        .join(F.broadcast(gn.select(F.col("mask").alias("mn"), F.col("c").alias("cn"))), "mn")
        .join(F.broadcast(go.select(F.col("mask").alias("mo"), F.col("c").alias("co"))), "mo")
        .select("mn", "mo", "je4", (F.col("cn") * F.col("co")).alias("w"))
    )
    stats = q.agg(
        F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce(F.sum(F.col("w") * F.col("je4")), F.lit(0))
        .cast("long")
        .alias("jaccard_sum_e4"),
        F.coalesce(SS.weighted_digest("mn", "mo", "je4"), F.lit(0))
        .cast("long")
        .alias("pair_digest"),
    )
    tn = gn.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_new_docs"),
        F.count("*").cast("long").alias("n_new_sets"),
    )
    to = go.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_old_docs"),
        F.count("*").cast("long").alias("n_old_sets"),
    )
    return (
        tn.crossJoin(F.broadcast(to))
        .crossJoin(F.broadcast(stats))
        .select(
            "n_new_docs",
            "n_old_docs",
            "n_new_sets",
            "n_old_sets",
            "n_pairs",
            "jaccard_sum_e4",
            "pair_digest",
        )
    )


@register(
    "dedup_source_overlap_matrix",
    # Same output contract as before (the matrix is already corpus-
    # linear); the COMPUTATION collapses to distinct token sets: the
    # md5-MinHash banding depends only on the set, so the verified dup
    # relation lives on distinct-mask pairs and the matrix is a
    # weighted rollup of (source, mask) group counts — identical-set
    # doc pairs (jaccard 1.0, always emitted by the band join) come
    # from the mask-level self-join plus per-group C(c,2) terms.
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
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
        ), gm AS (
            SELECT mask, MIN(doc_id) AS rep FROM m GROUP BY mask
        ), gs AS (
            SELECT t.source, m.mask, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks t JOIN m ON m.doc_id = t.doc_id
            GROUP BY 1, 2
        ), mt AS (
            SELECT gm.mask, r.t FROM gm JOIN tokr r ON r.doc_id = gm.rep
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
            SELECT LEAST(sa.source, sb.source) AS source_x,
                   GREATEST(sa.source, sb.source) AS source_y,
                   sa.c * sb.c AS w
            FROM dup d
            JOIN gs sa ON sa.mask = d.ma
            JOIN gs sb ON sb.mask = d.mb
            UNION ALL
            SELECT a.source, b.source, a.c * b.c
            FROM gs a JOIN gs b ON a.mask = b.mask AND a.source < b.source
            UNION ALL
            SELECT source, source, c * (c - 1) // 2 FROM gs WHERE c >= 2
        )
        SELECT source_x, source_y,
               CAST(SUM(w) AS BIGINT) AS n_dup_pairs
        FROM contrib
        GROUP BY 1, 2
        HAVING SUM(w) >= 10
    """,
    tags=("dedup", "forensics", "llm-prep"),
)
def dedup_source_overlap_matrix(spark, sf_dir):
    """Corpus forensics: the (source, source) near-dup pair matrix —
    which sources mirror/scrape which. Unordered source pairs (LEAST/
    GREATEST canonicalization) over the unblocked MinHash-LSH dup
    relation so CROSS-source duplication is visible (the blocked
    Jaccard tier deliberately cannot see it), thresholded at >= 10
    pairs. Computed as a multiplicity-weighted rollup over distinct
    token sets — band/verify cost follows distinct content, never the
    qualifying doc-pair count (the r5 sf1 wall). At 100 TB this is a
    rollup of the maintained dup-pair table — the report that tells a
    crawl operator which feeds to drop."""
    from ..operators import setsim as SS

    docs = table(spark, sf_dir, "documents")
    toks, masks = SS.mask_relation(docs, extra_cols=("source",))
    gm = (
        masks.groupBy("mask")
        .agg(F.min("id").alias("rep"))
        .localCheckpoint(eager=False)
    )
    gs = (
        masks.groupBy("source", "mask")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    dup = SS.minhash_md5_set_dup_pairs(SS.mask_token_rows(gm, toks)).select(
        "mask_a", "mask_b"
    )
    sa = gs.select(
        F.col("mask").alias("mask_a"), F.col("source").alias("src_a"),
        F.col("c").alias("c_a"),
    )
    sb = gs.select(
        F.col("mask").alias("mask_b"), F.col("source").alias("src_b"),
        F.col("c").alias("c_b"),
    )
    cross_diff = (
        dup.join(sa, "mask_a")
        .join(sb, "mask_b")
        .select(
            F.least(F.col("src_a"), F.col("src_b")).alias("source_x"),
            F.greatest(F.col("src_a"), F.col("src_b")).alias("source_y"),
            (F.col("c_a") * F.col("c_b")).alias("w"),
        )
    )
    ident_cross = (
        gs.alias("a")
        .join(gs.alias("b"), F.col("a.mask") == F.col("b.mask"))
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_x"),
            F.col("b.source").alias("source_y"),
            (F.col("a.c") * F.col("b.c")).alias("w"),
        )
    )
    ident_within = gs.filter("c >= 2").select(
        F.col("source").alias("source_x"),
        F.col("source").alias("source_y"),
        F.expr("c * (c - 1) DIV 2").alias("w"),
    )
    return (
        cross_diff.unionByName(ident_cross)
        .unionByName(ident_within)
        .groupBy("source_x", "source_y")
        .agg(F.sum("w").cast("long").alias("n_dup_pairs"))
        .filter(F.col("n_dup_pairs") >= 10)
    )


def _incremental_groups_oracle() -> str:
    from ._oracle_cc import group_cc_prefix

    # The oracle is the FULL-corpus group-level CC (the same collapsed
    # form as dedup_duplicate_groups): the row goes red unless the
    # engine's incremental supernode merge reproduces the full
    # recompute exactly.
    return (
        group_cc_prefix(min_tokens=1, singletons_below=False)
        + """
        SELECT MIN(gb.min_id) AS canonical_id,
               CAST(SUM(gb.c) AS BIGINT) AS group_size
        FROM glabel gl JOIN gb ON gb.gid = gl.gid
        GROUP BY gl.comp HAVING SUM(gb.c) > 1
    """
    )


def _merge_batch_labels(new, corpus_all, old_canon):
    """One incremental ingest step: fold batch ``new`` into the
    maintained canonical labels ``old_canon`` ((doc_id, canon) over
    corpus_all minus new), returning (doc_id, canon) over corpus_all.

    Delta edges are blocked Jaccard of new-vs-corpus only (old-old
    relations cannot change); old endpoints CONDENSE to their component
    supernode (which carries the component's min doc id), so connected
    components runs on the delta-sized condensed graph — the O(delta)
    ingest shape. Shared by dedup_incremental_groups (one in-lineage
    batch) and inc_groups_two_batch (two batches against the PERSISTED
    gold artifact)."""
    # delta edges: blocked new-vs-all (new-new and new-old; an
    # old-old pair cannot appear because one side is always new)
    def side(df, prefix):
        return df.select(
            F.col("doc_id").alias(f"{prefix}id"),
            F.col("source").alias(f"{prefix}src"),
            F.floor(F.col("n_chars") / 50).alias(f"{prefix}bkt"),
            F.expr(distinct_tokens("text")).alias(f"{prefix}tok"),
        ).filter(F.size(f"{prefix}tok") > 0)

    a = side(new, "a_")
    b = side(corpus_all, "b_")
    j = F.expr(D.word_jaccard("a_tok", "b_tok"))
    delta = (
        a.join(
            b,
            (F.col("a_src") == F.col("b_src"))
            & (F.col("a_bkt") == F.col("b_bkt"))
            & (F.col("a_id") != F.col("b_id")),
        )
        .filter(F.round(j, 4) >= 0.7)
        .select(F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"))
    )

    # condense old endpoints to their existing canonical supernode
    oc_b = old_canon.select(
        F.col("doc_id").alias("id_b"), F.col("canon").alias("canon_b")
    )
    cond = (
        delta.join(oc_b, "id_b", "left")
        .select(
            F.col("id_a"),
            F.coalesce(F.col("canon_b"), F.col("id_b")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    merged = D.connected_components(cond)  # (doc_id=node, canonical_id)

    # expand: every doc resolves through (its old canon when old) ->
    # the merged condensed label when its supernode was touched
    node_lab = merged.select(
        F.col("doc_id").alias("node"), F.col("canonical_id").alias("lab")
    )
    old_final = old_canon.join(
        node_lab, old_canon["canon"] == node_lab["node"], "left"
    ).select("doc_id", F.coalesce(F.col("lab"), F.col("canon")).alias("canon"))
    new_final = (
        new.select("doc_id")
        .join(node_lab, F.col("doc_id") == node_lab["node"], "left")
        .select("doc_id", F.coalesce(F.col("lab"), F.col("doc_id")).alias("canon"))
    )
    return old_final.unionByName(new_final)


def _group_contract(labels):
    """(doc_id, canon) -> the dedup group contract (canonical_id,
    group_size > 1) — the same shape as dedup_duplicate_groups."""
    return (
        labels.groupBy(F.col("canon").alias("canonical_id"))
        .agg(F.count("*").cast("long").alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


@register(
    "dedup_incremental_groups",
    oracle=_incremental_groups_oracle(),
    tags=("dedup", "incremental", "groups", "llm-prep"),
)
def dedup_incremental_groups(spark, sf_dir):
    """Incremental duplicate-GROUP maintenance: merge an arriving
    batch (doc_id % 5 == 0 plays the delta) into the EXISTING corpus's
    duplicate groups without re-running connected components over the
    whole graph — the maintained-artifact shape a 100 TB ingest
    pipeline needs (recomputing groups per batch is O(corpus), this is
    O(delta + affected components)).

    Steps: (1) the existing corpus's labels (the maintained artifact —
    computed here so the query is self-contained; in production it is
    read, not rebuilt); (2) delta edges = blocked Jaccard of new-vs-
    (new+old) only — never old-vs-old, whose relations cannot change;
    (3) CONDENSE old endpoints to their existing canonical (component
    supernodes) and run CC on the condensed delta graph (new docs +
    touched components — delta-sized); (4) expand back to doc
    membership. Output contract equals dedup_duplicate_groups over the
    FULL corpus, and the oracle IS the full-corpus group-level CC — so
    the incremental merge is driver-proven equal to the recompute.
    Correctness rests on monotonicity: old-old similarity relations are
    unchanged by new arrivals, so only components touching a delta edge
    can merge, and the condensed min-label equals the global min
    (each supernode already carries its component's min doc id)."""
    docs = table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)

    # (1) the maintained artifact: existing groups over the old corpus
    old_pairs = D.jaccard_pairs(old)
    old_labels = D.connected_components(old_pairs)  # only paired docs
    old_canon = (
        old.select("doc_id")
        .join(old_labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("canon"),
        )
        .localCheckpoint(eager=False)  # read twice: edges + expansion
    )

    # (2)-(4): delta edges -> condensed CC -> expansion
    return _group_contract(_merge_batch_labels(new, docs, old_canon))


@register(
    "inc_groups_two_batch",
    # Oracle: the FULL-corpus group-level CC — identical contract to
    # dedup_incremental_groups, because after both batches land the
    # maintained artifact must equal the from-scratch recompute.
    oracle=_incremental_groups_oracle(),
    tags=("dedup", "incremental", "groups", "llm-prep", "gold"),
)
def inc_groups_two_batch(spark, sf_dir):
    """PERSISTED incremental duplicate-group maintenance across two
    simulated ingest batches — the production shape the self-contained
    dedup_incremental_groups only models in-lineage (r6 verdict next
    #6; reference analog: the skip-existing maintained collection,
    chromadb_client.py:77-102).

    The canonical-label artifact is WRITTEN once over the base corpus
    (doc_id % 5 in {1,2,3}) via the W5 versioned gold sink
    (write_gold_version), then each batch (doc_id % 5 == 4, then == 0)
    is folded in by reading the LATEST committed gold version from
    parquet — not the in-session lineage — merging via the condensed
    delta-CC (_merge_batch_labels), and writing the next version. So
    the query exercises artifact persistence, versioned commit
    (_SUCCESS-gated read_latest_gold), and two successive O(delta)
    merges; the oracle proves the final artifact equals the full-corpus
    recompute. Every per-batch structure is delta-sized; the gold
    read/write is one narrow (doc_id, canon) table — linear in corpus,
    written once per ingest, exactly what a 100 TB pipeline maintains."""
    from ..sources.sinks import read_latest_gold, write_gold_version

    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 >= 1).filter(F.col("doc_id") % 5 <= 3)
    batch1 = docs.filter(F.col("doc_id") % 5 == 4)
    batch2 = docs.filter(F.col("doc_id") % 5 == 0)

    gold_dir = scratch_dir(sf_dir, "incgold")

    # version 1: base-corpus labels, persisted
    base_pairs = D.jaccard_pairs(base)
    base_labels = D.connected_components(base_pairs)
    base_canon = (
        base.select("doc_id")
        .join(base_labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("canon"),
        )
    )
    write_gold_version(base_canon, gold_dir)

    # batch 1: read the PERSISTED artifact, merge, persist version 2
    canon_v1 = read_latest_gold(spark, gold_dir)
    corpus1 = base.unionByName(batch1)
    labels1 = _merge_batch_labels(batch1, corpus1, canon_v1)
    write_gold_version(labels1, gold_dir)

    # batch 2: read version 2 from parquet, merge, emit the contract
    canon_v2 = read_latest_gold(spark, gold_dir)
    corpus2 = corpus1.unionByName(batch2)
    labels2 = _merge_batch_labels(batch2, corpus2, canon_v2)
    return _group_contract(labels2)


@register(
    "inc_groups_compacted",
    # Oracle: the FULL-corpus group-level CC — after every batch lands,
    # vacuumed and compacted or not, the maintained artifact must equal
    # the from-scratch recompute.
    oracle=_incremental_groups_oracle(),
    tags=("dedup", "incremental", "groups", "llm-prep", "gold", "maintenance"),
)
def inc_groups_compacted(spark, sf_dir):
    """Steady-state persisted incremental dedup: THREE ingest batches
    with mid-stream maintenance — the N-batch concern inc_groups_two_batch
    leaves open (r7 verdict next #6). At daily-ingest cadence the
    canonical-label gold directory is the table that grows forever:
    write_gold_version adds a version per batch, and each streaming-style
    write lands many small parquet files. This entry composes the two
    maintenance primitives into the flow and proves they are
    correctness-neutral:

    - after batch 2, ``vacuum_gold_versions(keep=1)`` deletes every
      superseded version (bounding the directory at O(1) versions
      regardless of batch count — read_latest_gold never needed them);
    - the surviving version is rewritten to one file with
      ``compact_table`` (small-file bound for the NameNode/listing path);
    - batch 3 then merges against the vacuumed-and-compacted artifact.

    The oracle is the full-corpus recompute, so the row goes red if the
    vacuum deletes a live version, the compaction rewrite drops or
    duplicates rows, or the merge reads a stale version. Loud-fail
    guards assert the structural claims (exactly one version survives;
    one data file after compaction) rather than trusting them.
    Per-batch cost stays O(delta + touched components); maintenance cost
    is linear in the one narrow (doc_id, canon) table."""
    import os

    from ..sources.sinks import (
        compact_table,
        latest_gold_version,
        read_latest_gold,
        vacuum_gold_versions,
        write_gold_version,
    )

    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 <= 1)
    batches = [
        docs.filter(F.col("doc_id") % 5 == 2),
        docs.filter(F.col("doc_id") % 5 == 3),
        docs.filter(F.col("doc_id") % 5 == 4),
    ]

    gold_dir = scratch_dir(sf_dir, "incgoldc")

    # version 1: base-corpus labels, persisted
    base_pairs = D.jaccard_pairs(base)
    base_labels = D.connected_components(base_pairs)
    base_canon = (
        base.select("doc_id")
        .join(base_labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("canon"),
        )
    )
    write_gold_version(base_canon, gold_dir)

    corpus = base
    for i, batch in enumerate(batches):
        canon_prev = read_latest_gold(spark, gold_dir)
        corpus = corpus.unionByName(batch)
        labels = _merge_batch_labels(batch, corpus, canon_prev)
        if i < len(batches) - 1:
            v = write_gold_version(labels, gold_dir)
            if i == 1:
                # mid-stream maintenance: vacuum superseded versions,
                # compact the survivor's small files
                vacuum_gold_versions(gold_dir, keep=1, partial_grace_sec=0.0)
                if latest_gold_version(gold_dir) != v:
                    raise AssertionError(
                        f"vacuum lost the live version {v} in {gold_dir}"
                    )
                vdir = os.path.join(gold_dir, f"version={v}")
                n_files = compact_table(spark, vdir, target_files=1)
                if n_files != 1:
                    raise AssertionError(
                        f"compaction left {n_files} files in {vdir}"
                    )
    return _group_contract(labels)


_SUB_K = 20  # substring gram width (chars)
_SUB_STRIDE = 5  # sample every 5th start position
_SUB_HEAVY = 0.5  # a doc is substring-heavy past this duplicated fraction


def _substring_oracle() -> str:
    from ..operators.sampling import deviate_sql

    k, st = _SUB_K, _SUB_STRIDE
    return f"""
        WITH pos AS (
            SELECT doc_id, source,
                   unnest(CASE WHEN length(text) >= {k}
                          THEN list_transform(
                               range(1, length(text) - {k} + 2, {st}),
                               i -> substring(text, i, {k}))
                          ELSE [] END) AS g
            FROM documents
        ), gd AS (
            SELECT DISTINCT doc_id, source,
                   {deviate_sql("g", "sgram")} AS gh
            FROM pos
        ), freq AS (
            SELECT gh FROM gd GROUP BY gh HAVING COUNT(*) >= 2
        ), perdoc AS (
            SELECT gd.doc_id, gd.source, COUNT(*) AS n_grams,
                   SUM(CASE WHEN f.gh IS NOT NULL THEN 1 ELSE 0 END) AS dup
            FROM gd LEFT JOIN freq f ON gd.gh = f.gh
            GROUP BY 1, 2
        ), fr AS (
            SELECT source, dup / n_grams AS frac FROM perdoc
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(frac), 4) AS avg_dup_frac,
               CAST(SUM(CASE WHEN frac >= {_SUB_HEAVY} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_heavy,
               ROUND(SUM(CASE WHEN frac >= {_SUB_HEAVY} THEN 1 ELSE 0 END)
                     / COUNT(*), 6) AS heavy_rate
        FROM fr GROUP BY source
    """


@register(
    "dedup_repeated_substrings",
    oracle=_substring_oracle(),
    tags=("dedup", "substring", "llm-prep", "training-data"),
)
def dedup_repeated_substrings(spark, sf_dir):
    """SUBSTRING-level exact-duplication profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") — the
    tier token shingles cannot see: boilerplate banners, licence
    blocks, and templated sentences repeat as CHARACTER runs across
    documents whose token SETS differ. Stride-sampled char-20-grams
    (every 5th start position — the paper's suffix-array pass
    approximated as a sampled gram lattice: any repeated run of >= 24
    chars is guaranteed to contribute at least one sampled gram on
    both sides) are md5-hashed; a gram is corpus-repeated when it
    occurs in >= 2 distinct documents; each doc scores the fraction of
    its distinct sampled grams that are corpus-repeated, profiled per
    source (mean duplicated fraction, heavy-doc count past 0.5).

    Scale shape: grams hash to 8-byte keys before any shuffle (the
    stride caps gram volume at ~len/5 per doc); corpus-frequent grams
    are one map-side-combinable count; per-doc scoring is a shuffled
    equi-join on the gram hash (the frequent-gram side is
    corpus-proportional — never broadcast) + one doc-keyed aggregate.
    The same dataflow as cur_contamination_ngram_overlap with the
    benchmark split replaced by the corpus itself."""
    from ..operators.sampling import hash_deviate

    k, st = _SUB_K, _SUB_STRIDE
    docs = table(spark, sf_dir, "documents")
    seq = F.sequence(
        F.lit(1), F.length("text") - F.lit(k - 1), F.lit(st)
    )
    pos = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.length("text") >= k,
                F.transform(seq, lambda i: F.col("text").substr(i, F.lit(k))),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    gd = pos.select(
        "doc_id", "source", hash_deviate(F.col("g"), "sgram").alias("gh")
    ).distinct()
    freq = gd.groupBy("gh").agg(F.count("*").alias("c")).filter(
        F.col("c") >= 2
    ).select("gh")
    perdoc = (
        gd.join(freq.withColumn("hit", F.lit(1)), "gh", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("dup"),
        )
    )
    frac = F.col("dup") / F.col("n_grams")
    heavy = frac >= _SUB_HEAVY
    return perdoc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg(frac), 4).alias("avg_dup_frac"),
        F.sum(F.when(heavy, 1).otherwise(0)).cast("long").alias("n_heavy"),
        F.round(
            F.sum(F.when(heavy, 1).otherwise(0)) / F.count("*"), 6
        ).alias("heavy_rate"),
    )
