"""Deduplication query corpus (M1-M3 + training-data dedup) over
`documents` and `embeddings`."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text_funcs import distinct_tokens, normalized, word_jaccard
from ..operators import dedup as D
from ..registry import register
from ..tables import table

_NORM_SQL = (
    "regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),"
    " ' +', ' ', 'g')"
)


@register(
    "dedup_exact_hash",
    oracle=f"""
        SELECT md5({_NORM_SQL}) AS fp,
               MIN(doc_id) AS canonical_id,
               COUNT(*) AS dup_count
        FROM documents GROUP BY 1
    """,
    tags=("dedup", "M1"),
)
def dedup_exact_hash(spark, sf_dir):
    """M1: exact dedup via normalized-text hash groups; canonical record
    = lowest id (deterministic replacement for the reference's
    first-seen-wins, SURVEY §7.4 #1)."""
    return D.exact_dedup_groups(table(spark, sf_dir, "documents"))


@register(
    "dedup_jaccard_pairs",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, n_chars,
                   list_distinct(list_filter(string_split(lower(text), ' '),
                                             t -> t <> '')) AS tok
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
                         (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))),
                         4) AS jaccard
            FROM toks a JOIN toks b
              ON a.source = b.source
             AND floor(a.n_chars / 50) = floor(b.n_chars / 50)
             AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.7
    """,
    tags=("dedup", "M2"),
    bench=True,
)
def dedup_jaccard_pairs(spark, sf_dir):
    """M2-class word-Jaccard near-dup pairs, blocked by (source, length
    bucket) so the pair space never goes O(n²) on the full corpus.
    Runs the per-block GEMM formulation (each text crosses the wire
    once; pair intersections are one matrix multiply per block); the
    pure-DataFrame jaccard_pairs computes the same result and is
    cross-checked in tests/test_dedup.py."""
    return D.jaccard_pairs_gemm(table(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_lsh",
    # Self-verifying contract: xxhash64 minhash has no SQL twin (the
    # md5-replayable twin dedup_minhash_md5 IS hash-checked), so this
    # query certifies the fast path with values the oracle CAN pin:
    # the blocked-exact pair count (recomputed exactly by DuckDB over
    # the distinct-set relation), a zero false-positive count (every
    # emitted set pair re-verified from the raw token arrays,
    # independently of the operator's popcount filter), and a recall
    # floor vs the exact pairs (banding theory predicts ~0.97 at
    # s=0.7). A banding/verify regression flips a value -> red.
    # Everything runs multiplicity-weighted over DISTINCT token sets,
    # so cost follows distinct content — the contract executes at sf1
    # where the doc-pair formulation (~500M qualifying pairs) cannot.
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
        ), gb AS (
            SELECT t.source, t.bkt, m.mask, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks t JOIN m ON m.doc_id = t.doc_id
            GROUP BY 1, 2, 3
        ), cp AS (
            SELECT a.c * b.c AS w
            FROM gb a JOIN gb b
              ON a.source = b.source AND a.bkt = b.bkt AND a.mask < b.mask
            WHERE (20000 * bit_count(a.mask & b.mask)
                   + bit_count(a.mask | b.mask))
                  // (2 * bit_count(a.mask | b.mask)) >= 7000
        ), wi AS (
            SELECT c * (c - 1) // 2 AS w FROM gb WHERE c >= 2
        )
        SELECT CAST((SELECT COALESCE(SUM(w), 0) FROM cp)
                    + (SELECT COALESCE(SUM(w), 0) FROM wi) AS BIGINT)
                   AS n_exact_pairs,
               CAST(0 AS BIGINT) AS n_false_positives,
               TRUE AS recall_ge_90
    """,
    tags=("dedup", "M2", "lsh"),
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH certification, distinct-set-weighted and
    blocked-pair-bounded: 32-perm xxhash64 minhash -> 8 per-band
    hashes over one representative per DISTINCT token set (the
    signature is a pure function of the set, so the set-level banding
    relation is exactly the doc-level one), then a contract row the
    oracle value-checks: blocked-exact pair count
    (multiplicity-weighted: a qualifying set pair (A,B) stands for
    c_A*c_B doc pairs, a set with c >= 2 for C(c,2) jaccard-1.0
    pairs), independent false-positive recount over every counted
    pair (raw token arrays vs the popcount filter, pinned 0), and the
    banding recall floor (pinned >= 0.9; within-set pairs are always
    caught — identical sets share every band). Recall is evaluated by
    DIRECT band-hash equality on the exact-pair relation — the same
    predicate as the production bucket join (collision in >= 1 of 8
    bands), but on blocked-pair-many rows: materializing the unblocked
    bucket self-join made the certification itself quadratic under
    31-token-vocabulary bucket skew (480s at sf1 for identical
    contract values; ~30s this way). The PRODUCTION pair stream is
    D.minhash_lsh_pairs; this query replays its banding over distinct
    sets using the operator's own constants and band-hash helper
    (D.MINHASH_N_PERM/BANDS, D.minhash_band_hashes), and
    tests/test_dedup.py pins replay-hit == operator-bucket on a doc
    corpus; tests/test_lsh_recall_oracle.py pins the banding-theory
    floor on the doc-level operator."""
    from ..operators import setsim as SS

    docs = table(spark, sf_dir, "documents")
    toks, masks = SS.mask_relation(
        docs, extra_cols=("source", F.floor(F.col("n_chars") / 50).alias("bkt"))
    )
    gb = (
        masks.groupBy("source", "bkt", "mask")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    gm = masks.groupBy("mask").agg(F.min("id").alias("rep"))
    rep_toks = (
        gm.join(toks.select(F.col("id").alias("rep"), "tok"), "rep")
        .select("mask", "tok")
        .localCheckpoint(eager=False)  # distinct-set-sized; read by the
        # banding AND both sides of the word_jaccard recheck
    )
    # the fast-path banding over distinct sets: one row per set with
    # its band hashes as columns (bucket collision <=> hash equality).
    # Constants AND the band-hash construction are imported from the
    # operator module (D.MINHASH_*, D.minhash_band_hashes) so the
    # certification replays the production layout verbatim — layout
    # drift is structurally impossible, and
    # tests/test_dedup.py pins replay == D.minhash_lsh_pairs buckets.
    bands = D.MINHASH_BANDS
    sigs = rep_toks.select(
        "mask", F.expr(D.minhash_signature("tok")).alias("sig")
    )
    bh = sigs.select(
        "mask",
        *[F.expr(h).alias(f"bh{b}") for b, h in enumerate(D.minhash_band_hashes())],
    ).localCheckpoint(eager=False)
    # blocked exact pairs (the ground truth), multiplicity-weighted —
    # the SAME relation the oracle recomputes; read by the recall AND
    # false-positive stages
    a = gb.select(
        F.col("source"), F.col("bkt"), F.col("mask").alias("mask_a"),
        F.col("c").alias("c_a"),
    )
    b = gb.select(
        F.col("source"), F.col("bkt"), F.col("mask").alias("mask_b"),
        F.col("c").alias("c_b"),
    )
    eb = (
        a.join(b, ["source", "bkt"])
        .filter(F.col("mask_a") < F.col("mask_b"))
        .withColumn("je4", SS.je4_expr())
        .filter(F.col("je4") >= 7000)
        .select("mask_a", "mask_b", (F.col("c_a") * F.col("c_b")).alias("w"))
        .localCheckpoint(eager=False)
    )
    # independent re-verification from the raw token ARRAYS
    # (word_jaccard, not mask popcounts) of EVERY pair the contract
    # counts: a broken mask/verify path shows up as n_fp > 0
    ta = rep_toks.select(F.col("mask").alias("mask_a"), F.col("tok").alias("tok_a"))
    tb = rep_toks.select(F.col("mask").alias("mask_b"), F.col("tok").alias("tok_b"))
    j = F.expr(D.word_jaccard("tok_a", "tok_b"))
    n_fp = (
        eb.join(ta, "mask_a")
        .join(tb, "mask_b")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.round(j, 4) < 0.7, F.col("w")).otherwise(
                        F.lit(0).cast("long")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_false_positives")
        )
    )
    # LSH hit flag: >= 1 of the 8 band hashes agree — identical
    # semantics to membership in the bucket self-join
    bha = bh.select(
        F.col("mask").alias("mask_a"),
        *[F.col(f"bh{i}").alias(f"ah{i}") for i in range(bands)],
    )
    bhb = bh.select(
        F.col("mask").alias("mask_b"),
        *[F.col(f"bh{i}").alias(f"bh_{i}") for i in range(bands)],
    )
    hit = None
    for i in range(bands):
        eq = F.col(f"ah{i}") == F.col(f"bh_{i}")
        hit = eq if hit is None else (hit | eq)
    hits = eb.join(bha, "mask_a").join(bhb, "mask_b").withColumn("hit", hit)
    cross_stats = hits.agg(
        F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("n_cross"),
        F.coalesce(F.sum(F.when(F.col("hit"), F.col("w")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_cross_hit"),
    )
    within = gb.filter("c >= 2").agg(
        F.coalesce(F.sum(F.expr("c * (c - 1) DIV 2")), F.lit(0))
        .cast("long")
        .alias("n_within")
    )
    return (
        cross_stats.crossJoin(F.broadcast(within))
        .crossJoin(F.broadcast(n_fp))
        .select(
            (F.col("n_cross") + F.col("n_within")).alias("n_exact_pairs"),
            "n_false_positives",
            (
                (F.col("n_cross_hit") + F.col("n_within")).cast("double")
                >= 0.9 * (F.col("n_cross") + F.col("n_within")).cast("double")
            ).alias("recall_ge_90"),
        )
    )


@register(
    "dedup_simhash",
    # Self-verifying contract: xxhash64 bit-votes have no SQL twin
    # (dedup_simhash_md5 IS hash-checked), so certify the fast path
    # with oracle-pinnable values: signature count == corpus count, the
    # pigeonhole THEOREM (4 chunks of 16 bits: any pair within Hamming
    # <= 3 must agree on one chunk, so zero such pairs may be missed),
    # and the documented mid-band (Hamming 4-8) recall floor (measured
    # 0.46-0.475; pinned >= 0.40). The ground truth is an all-pairs
    # Hamming sweep over DISTINCT-SET signatures, multiplicity-weighted
    # — exactly the doc-level counts, but quadratic in distinct
    # content, not corpus size (the production path IS the banded
    # operator).
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_signed,
               CAST(0 AS BIGINT) AS n_hamming_le3_missed,
               TRUE AS midband_recall_ge_40
        FROM documents
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark, sf_dir):
    """SimHash certification, distinct-set-weighted: the 64-bit
    bit-vote signature is a pure function of the token set, so the
    ground-truth all-pairs Hamming sweep, the chunk-blocked candidate
    join, and every recall count run over one representative per
    DISTINCT set and weight by multiplicity (c_A*c_B doc pairs per set
    pair; within-set pairs have Hamming 0 and always share every
    chunk, so they can never be missed). Values are exactly the
    doc-level ones, but the certification sweep is quadratic in
    distinct CONTENT, not corpus size — it executes at sf1 where the
    doc-level crossJoin cannot. Empty-token docs ride as mask 0
    (sig 0) so signature coverage still counts every document. The
    PRODUCTION pair stream is D.simhash_pairs; this query replays its
    chunk blocking via the operator's own helper
    (D.simhash_chunk_structs), so the two cannot drift."""
    from ..operators import setsim as SS

    docs = table(spark, sf_dir, "documents")
    toks, masks = SS.mask_relation(docs, keep_empty=True)
    gm = (
        masks.groupBy("mask")
        .agg(F.count("*").cast("long").alias("c"), F.min("id").alias("rep"))
        .localCheckpoint(eager=False)
    )
    rep_toks = (
        gm.join(toks.select(F.col("id").alias("rep"), "tok"), "rep")
        .select("mask", "tok")
        .localCheckpoint(eager=False)
    )
    sigs = rep_toks.select(
        "mask",
        D.simhash_signature("transform(tok, t -> xxhash64(t))").alias("sig"),
    ).localCheckpoint(eager=False)
    # the operator's chunk blocking, verbatim, over distinct sets —
    # built by the SAME helper the production simhash_pairs uses
    # (D.simhash_chunk_structs), so the certification cannot drift from
    # the operator's chunk layout
    chunked = sigs.select(
        "mask",
        F.explode(F.array(*D.simhash_chunk_structs())).alias("cc"),
    ).select("mask", "cc.chunk", "cc.ckey")
    emitted = (
        chunked.alias("a")
        .join(chunked.alias("b"), ["chunk", "ckey"])
        .filter(F.col("a.mask") < F.col("b.mask"))
        .select(F.col("a.mask").alias("mask_a"), F.col("b.mask").alias("mask_b"))
        .distinct()
    )
    # ground truth: all DISTINCT-SET pairs with their Hamming distance
    a = sigs.select(F.col("mask").alias("mask_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("mask").alias("mask_b"), F.col("sig").alias("sb"))
    ca = gm.select(F.col("mask").alias("mask_a"), F.col("c").alias("c_a"))
    cb = gm.select(F.col("mask").alias("mask_b"), F.col("c").alias("c_b"))
    allp = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("mask_a") < F.col("mask_b"))
        .select(
            "mask_a",
            "mask_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("h"),
        )
        .join(F.broadcast(ca), "mask_a")
        .join(F.broadcast(cb), "mask_b")
        .withColumn("w", F.col("c_a") * F.col("c_b"))
    )
    le3 = allp.filter(F.col("h") <= 3).select("mask_a", "mask_b", "w")
    mid = allp.filter((F.col("h") >= 4) & (F.col("h") <= 8)).select(
        "mask_a", "mask_b", "w"
    )
    n_docs = gm.agg(F.sum("c").cast("long").alias("n_docs_signed"))
    n_missed = le3.join(emitted, ["mask_a", "mask_b"], "left_anti").agg(
        F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("n_hamming_le3_missed")
    )
    n_mid = mid.agg(F.coalesce(F.sum("w"), F.lit(0)).cast("double").alias("n_mid"))
    n_mid_hit = mid.join(emitted, ["mask_a", "mask_b"], "left_semi").agg(
        F.coalesce(F.sum("w"), F.lit(0)).cast("double").alias("n_mid_hit")
    )
    return (
        n_docs.crossJoin(F.broadcast(n_missed))
        .crossJoin(F.broadcast(n_mid))
        .crossJoin(F.broadcast(n_mid_hit))
        .select(
            "n_docs_signed",
            "n_hamming_le3_missed",
            (F.col("n_mid_hit") >= 0.40 * F.col("n_mid")).alias(
                "midband_recall_ge_40"
            ),
        )
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
        SELECT * FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 4)
                       AS cosine_sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
        ) WHERE cosine_sim >= 0.35
    """,
    tags=("dedup", "M3", "embedding"),
)
def dedup_embedding_cosine(spark, sf_dir):
    """M3: embedding-cosine near-dup pairs within blocks (label = LSH
    bucket stand-in). Production kernel: per-block chunked GEMM over
    Arrow batches (each vector crosses the wire once; pair work in
    BLAS; output-sized emission) — the interpreted zip_with/aggregate
    expression twin stays as its verification surface, equality pinned
    in tests/test_dedup.py."""
    return D.embedding_cosine_pairs_gemm(
        table(spark, sf_dir, "embeddings"), threshold=0.35
    )


@register(
    "dedup_duplicate_groups",
    # Oracle runs the SAME connectivity at the DISTINCT-SET-GROUP level:
    # docs sharing (source, length-bucket, token set) are mutually
    # connected at jaccard 1.0, so they always land in one component —
    # collapsing them to a node with (c, min_id) changes nothing about
    # the component partition, while the recursive walk shrinks from
    # the doc-pair graph (quadratic on templated corpora; sf1-
    # infeasible) to the group graph. canonical_id = min doc id over
    # the component's groups; group_size = sum of member counts.
    oracle="""
        WITH RECURSIVE toks AS (
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
        ), gb AS (
            SELECT ROW_NUMBER() OVER (ORDER BY t.source, t.bkt, m.mask) AS gid,
                   t.source, t.bkt, m.mask,
                   CAST(COUNT(*) AS BIGINT) AS c,
                   MIN(t.doc_id) AS min_id
            FROM toks t JOIN m ON m.doc_id = t.doc_id
            GROUP BY t.source, t.bkt, m.mask
        ), gedges AS (
            SELECT a.gid AS s, b.gid AS d
            FROM gb a JOIN gb b
              ON a.source = b.source AND a.bkt = b.bkt AND a.mask < b.mask
            WHERE (20000 * bit_count(a.mask & b.mask)
                   + bit_count(a.mask | b.mask))
                  // (2 * bit_count(a.mask | b.mask)) >= 7000
        ), edges AS (
            SELECT s, d FROM gedges UNION ALL SELECT d, s FROM gedges
        ), walk(node, comp) AS (
            SELECT gid, gid FROM gb
            UNION
            SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.node
            WHERE w.comp < e.d
        ), glabel AS (
            SELECT node AS gid, MIN(comp) AS comp FROM walk GROUP BY node
        )
        SELECT MIN(gb.min_id) AS canonical_id,
               CAST(SUM(gb.c) AS BIGINT) AS group_size
        FROM glabel gl JOIN gb ON gb.gid = gl.gid
        GROUP BY gl.comp HAVING SUM(gb.c) > 1
    """,
    tags=("dedup", "M2", "groups"),
    bench=True,
)
def dedup_duplicate_groups(spark, sf_dir):
    """Near-dup GROUPS: blocked Jaccard pairs -> iterative min-label
    connected components -> (canonical_id, group_size). The group-level
    contract stays linear in corpus size even when the pair list is
    quadratic (templated corpora) — this is the operator a 100 TB dedup
    pipeline actually materializes.

    Runs the connectivity at the DISTINCT-SET-GROUP level, exactly
    the collapse its own oracle performs (see the oracle comment
    above): docs sharing (source, length-bucket, token SET) are
    mutually jaccard-1.0 connected, so replacing them with one node
    (gid = min doc id, weight c) preserves the component partition
    while the pair join and the CC label table shrink from docs to
    distinct contents — on templated corpora that is the quadratic
    term. Jaccard is a pure function of the two token sets, so
    group-level edges ARE the doc-level edges. canonical_id = min gid
    of the component (= min doc id, since every doc's id >= its
    group's min); group_size = sum of member counts; singleton
    components fall to the same > 1 filter.
    """
    from ..tables import parallelize_scan

    d = parallelize_scan(table(spark, sf_dir, "documents"))
    gb = (
        spark.sql(
            f"""
            SELECT source, bkt, tok, min(doc_id) AS gid, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT doc_id, source, floor(n_chars / 50) AS bkt,
                         sort_array({distinct_tokens("text")}) AS tok
                  FROM {{d}})
            WHERE size(tok) > 0
            GROUP BY source, bkt, tok""",
            d=d,
        )
        # Round-robin spread BEFORE the checkpoint: the pair
        # join's stream-side parallelism IS the checkpoint's partition
        # count, and AQE's byte-based coalescing shrinks this small-
        # BYTES frame to 1-2 partitions while its pair work is
        # quadratic in rows — measured at sf0.1 as a 1.06s 2-task
        # stage on 32 idle cores. Same starved-cores rationale as
        # tables.parallelize_scan; defaultParallelism derives from the
        # session (cluster size), not a local constant, and one
        # round-robin pass of the distinct-set frame is bounded by the
        # frame the join must broadcast anyway.
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)  # feeds the pair join AND the rollup
    )
    edges = spark.sql(
        f"""
        SELECT a.gid AS gid_a, b.gid AS gid_b
        FROM {{gb}} a JOIN {{gb}} b ON a.source = b.source AND a.bkt = b.bkt
        WHERE a.gid < b.gid AND round({word_jaccard("a.tok", "b.tok")}, 4) >= 0.7D""",
        gb=gb,
    )
    # Adaptive loop, NOT a fixed-step pin: the bench corpus proved
    # the 'diameter <= 2 clique' premise wrong (sf0.1 measured d=7 —
    # a 3-step pin failed its convergence assert, loudly). The loop's
    # pointer-jumping compression gets the round count to O(log d),
    # which is both the spread fix and the 100 TB shape.
    labels = D.connected_components(edges, id_a="gid_a", id_b="gid_b")
    return spark.sql(
        """
        SELECT comp AS canonical_id, CAST(sum(c) AS BIGINT) AS group_size
        FROM (SELECT g.c, coalesce(l.canonical_id, g.gid) AS comp
              FROM {gb} g LEFT JOIN {labels} l ON g.gid = l.doc_id)
        GROUP BY comp
        HAVING group_size > 1""",
        gb=gb,
        labels=labels,
    )


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   substr({_NORM_SQL}, 1, 12) AS sk,
                   list_distinct(list_filter(string_split(lower(text), ' '),
                                             t -> t <> '')) AS tok
            FROM documents
        ), ord AS (
            SELECT doc_id, source, tok,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY sk, doc_id) AS rn
            FROM toks
        ), cand AS (
            SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
                   GREATEST(a.doc_id, b.doc_id) AS id_b,
                   ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
                         (len(a.tok) + len(b.tok)
                          - len(list_intersect(a.tok, b.tok))),
                         4) AS jaccard
            FROM ord a JOIN ord b
              ON a.source = b.source
             AND b.rn BETWEEN a.rn + 1 AND a.rn + 3
        )
        SELECT id_a, id_b, jaccard FROM cand WHERE jaccard >= 0.7
    """,
    tags=("dedup", "M2", "blocking", "snm"),
)
def dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood ER blocking (Hernandez-Stolfo): sort each
    source partition by a coarse content key (first 12 chars of the
    normalized text), slide a window of size 4, emit exact-Jaccard-
    verified pairs among records within the window. The reference's
    arrival-order dedup cache (compare each record against the last 100
    seen, reference: src/spark_consumers/deduplication_consumer.py:
    251-261) IS a degenerate sorted neighborhood whose sort key is
    arrival time; this is the deterministic, content-keyed form.

    Scale shape: ONE shuffle (the window sort on source) and zero
    self-join — candidates come from lead() over the sorted partition,
    so candidate count is exactly (w-1) x n regardless of corpus skew.
    The token arrays ride the window as lead payloads: bounded (w-1)x
    duplication inside one stage, vs two extra corpus-wide hash joins
    to re-attach them per pair (the band joins measured re-attach
    cheaper, but their candidate multiplicity is unbounded; here it is
    a small constant, so payload-through-window wins). At 100 TB a
    single source partition can exceed one task: pre-split the sort key
    range (range partition on (source, sk)) and overlap boundaries by
    w-1 rows — the window semantics are unchanged."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    norm = F.expr(normalized("text"))
    sel = docs.select(
        "doc_id",
        "source",
        F.substring(norm, 1, 12).alias("sk"),
        F.expr(distinct_tokens("text")).alias("tok"),
    )
    w = Window.partitionBy("source").orderBy("sk", "doc_id")
    # window exprs evaluate in their own Project (generators can't host
    # them), then ONE explode fans the w-1 neighbors out
    neighbors = sel.select(
        "doc_id",
        "tok",
        *[F.lead("doc_id", k).over(w).alias(f"nid{k}") for k in (1, 2, 3)],
        *[F.lead("tok", k).over(w).alias(f"ntok{k}") for k in (1, 2, 3)],
    )
    led = neighbors.select(
        "doc_id",
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"nid{k}").alias("nid"),
                        F.col(f"ntok{k}").alias("ntok"),
                    )
                    for k in (1, 2, 3)
                ]
            )
        ).alias("c"),
    ).filter(F.col("c.nid").isNotNull())
    j = F.round(F.expr(word_jaccard("tok", "c.ntok")), 4)
    return (
        led.select(
            F.least("doc_id", "c.nid").alias("id_a"),
            F.greatest("doc_id", "c.nid").alias("id_b"),
            j.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.7)
    )


@register(
    "dedup_snm_multikey",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   {_NORM_SQL} AS norm,
                   list_distinct(list_filter(string_split(lower(text), ' '),
                                             t -> t <> '')) AS tok
            FROM documents
        ), ord_f AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY substr(norm, 1, 12), doc_id)
                       AS rn
            FROM toks
        ), ord_r AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY substr(reverse(norm), 1, 12),
                                               doc_id) AS rn
            FROM toks
        ), cand AS (
            SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
                   GREATEST(a.doc_id, b.doc_id) AS id_b
            FROM ord_f a JOIN ord_f b
              ON a.source = b.source AND b.rn BETWEEN a.rn + 1 AND a.rn + 3
            UNION
            SELECT LEAST(a.doc_id, b.doc_id), GREATEST(a.doc_id, b.doc_id)
            FROM ord_r a JOIN ord_r b
              ON a.source = b.source AND b.rn BETWEEN a.rn + 1 AND a.rn + 3
        ), verified AS (
            SELECT c.id_a, c.id_b,
                   ROUND(CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE) /
                         (len(ta.tok) + len(tb.tok)
                          - len(list_intersect(ta.tok, tb.tok))),
                         4) AS jaccard
            FROM cand c
            JOIN toks ta ON ta.doc_id = c.id_a
            JOIN toks tb ON tb.doc_id = c.id_b
        )
        SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.7
    """,
    tags=("dedup", "M2", "blocking", "snm"),
)
def dedup_snm_multikey(spark, sf_dir):
    """Multi-pass sorted neighborhood (the standard recall fix for
    single-key SNM): pass 1 sorts each source partition by the leading
    12 chars of normalized text, pass 2 by the leading 12 chars of the
    REVERSED text — a record whose prefix carries a typo or a reordered
    lead-in still lands next to its duplicate in the suffix ordering.
    Candidates are the union of both passes' w=4 windows, deduped at
    the PAIR level (tiny — bounded by 2(w-1)n), then exact-Jaccard
    verified ONCE.

    Scale shape: two window sorts (one shuffle each on source), union,
    a pair-level dropDuplicates on ~6n rows, and one token re-attach
    join pair — no self-join, candidate count independent of skew.
    The single-key entry (dedup_sorted_neighborhood) carries token
    payloads through the window because it verifies inline; here the
    verify is shared across passes, so candidates travel as bare id
    pairs and tokens re-attach once (the band-join device)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    norm = F.expr(normalized("text"))
    base = docs.select("doc_id", "source", norm.alias("norm"))

    def snm_pass(key_col):
        w = Window.partitionBy("source").orderBy("sk", "doc_id")
        sel = base.select("doc_id", "source", key_col.alias("sk"))
        led = sel.select(
            "doc_id",
            *[F.lead("doc_id", k).over(w).alias(f"nid{k}") for k in (1, 2, 3)],
        )
        return (
            led.select(
                "doc_id",
                F.explode(
                    F.array(*[F.col(f"nid{k}") for k in (1, 2, 3)])
                ).alias("nid"),
            )
            .filter(F.col("nid").isNotNull())
            .select(
                F.least("doc_id", "nid").alias("id_a"),
                F.greatest("doc_id", "nid").alias("id_b"),
            )
        )

    cand = (
        snm_pass(F.substring(F.col("norm"), 1, 12))
        .unionByName(snm_pass(F.substring(F.reverse(F.col("norm")), 1, 12)))
        .dropDuplicates(["id_a", "id_b"])
    )
    tok = docs.select(
        F.col("doc_id").alias("tid"), F.expr(distinct_tokens("text")).alias("tok")
    )
    j = F.round(
        F.expr(word_jaccard("tok_a", "tok_b")), 4
    )
    return (
        cand.join(tok.select(F.col("tid").alias("id_a"), F.col("tok").alias("tok_a")), "id_a")
        .join(tok.select(F.col("tid").alias("id_b"), F.col("tok").alias("tok_b")), "id_b")
        .select("id_a", "id_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.7)
    )


@register(
    "dedup_cross_source_snm",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   substr({_NORM_SQL}, 1, 12) AS sk,
                   list_distinct(list_filter(string_split(lower(text), ' '),
                                             t -> t <> '')) AS tok
            FROM documents
        ), ord AS (
            SELECT doc_id, tok,
                   ROW_NUMBER() OVER (ORDER BY sk, doc_id) AS rn
            FROM toks
        ), cand AS (
            SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
                   GREATEST(a.doc_id, b.doc_id) AS id_b,
                   ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
                         (len(a.tok) + len(b.tok)
                          - len(list_intersect(a.tok, b.tok))),
                         4) AS jaccard
            FROM ord a JOIN ord b
              ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
        )
        SELECT id_a, id_b, jaccard FROM cand WHERE jaccard >= 0.7
    """,
    tags=("dedup", "M2", "blocking", "snm", "cross-source"),
)
def dedup_cross_source_snm(spark, sf_dir):
    """Cross-source sorted neighborhood: the GLOBAL content-key sort
    (no source block), so duplicates syndicated across sources — the
    pairs the per-source windows of dedup_sorted_neighborhood cannot
    see — land adjacent. The global ordering uses the bucketed-rank
    rewrite (win_global_rank_ranged device): rows range-bucket by the
    sort key's 2-char prefix, rank locally per bucket, add
    prefix-summed bucket offsets — equal to the naive single-partition
    window by construction (the oracle IS that naive form), and window
    candidates come from an equi-join on the global rank (each row
    fans out rn+1..rn+3), which crosses bucket boundaries naturally —
    no boundary-overlap bookkeeping, no corpus-sized single partition
    anywhere."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    norm = F.expr(normalized("text"))
    sel = docs.select(
        "doc_id",
        F.substring(norm, 1, 12).alias("sk"),
        F.expr(distinct_tokens("text")).alias("tok"),
    )
    bkey = F.substring(F.col("sk"), 1, 2)
    wd = sel.withColumn("bkey", bkey)
    counts = wd.groupBy("bkey").agg(F.count("*").alias("bn"))
    woff = Window.orderBy("bkey").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bkey", F.coalesce(F.sum("bn").over(woff), F.lit(0)).alias("offset")
    )
    wlocal = Window.partitionBy("bkey").orderBy("sk", "doc_id")
    ranked = (
        wd.withColumn("lrank", F.row_number().over(wlocal))
        .join(F.broadcast(offsets), "bkey")
        .select("doc_id", "tok", (F.col("offset") + F.col("lrank")).alias("rn"))
    )
    probes = ranked.select(
        F.col("doc_id").alias("id_l"),
        F.col("tok").alias("tok_l"),
        F.explode(
            F.array(*[F.col("rn") + k for k in (1, 2, 3)])
        ).alias("rn"),
    )
    j = F.round(F.expr(word_jaccard("tok_l", "tok")), 4)
    return (
        probes.join(ranked, "rn")
        .select(
            F.least("id_l", "doc_id").alias("id_a"),
            F.greatest("id_l", "doc_id").alias("id_b"),
            j.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.7)
    )
