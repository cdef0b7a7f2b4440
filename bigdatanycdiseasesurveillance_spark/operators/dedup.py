"""Deduplication operators (SURVEY §2.11 M1-M3 + training-data dedup).

The reference runs a 3-tier dedup (exact SHA-256, TF-IDF cosine vs the
last 100 texts, embedding cosine vs the last 50) as a driver-side loop
with order-dependent caches (reference:
src/spark_consumers/deduplication_consumer.py:107-286). A distributed
engine needs deterministic, order-free semantics (SURVEY §7.4 #1):
candidates come from *blocking* (not arrival order), the canonical
record of a duplicate group is the lowest id, and every tier is a
DataFrame plan.

Scale design:
- exact tier: hash + groupBy — one shuffle on the 16-byte hash;
- n-gram Jaccard: blocked self-join (equi-join on block keys, so the
  pair space is per-block, never full-corpus O(n^2));
- MinHash-LSH: signature = array of per-permutation mins computed as
  one SQL expression (xxhash64 — JVM-side, no Python); banding turns
  near-dup search into a group-by on band keys; candidates verified
  with exact Jaccard;
- SimHash: 64-bit signature via bit-vote aggregation over token hashes,
  chunk-blocked Hamming candidate generation;
- embedding tier: cosine pairs within label blocks (stand-in for LSH
  buckets over real embeddings).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.sql_text import dlit, ident
from ..functions.text_funcs import distinct_tokens, fingerprint, word_jaccard
from ..functions.vectors import dot, unit
from .bounded import bounded_collect, min_label_components
from .setsim import md5_token_vocab_hashes, minhash_md5_set_candidates


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """M1: exact-duplicate groups of (doc_id, text) rows by
    normalized-text hash. Returns one row per distinct content:
    (fp, canonical_id, dup_count)."""
    return (
        df.select(F.expr(fingerprint("text")).alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _blocked_pairs(
    df: DataFrame, block_cols: list[Column], payload: dict[str, Column]
) -> DataFrame:
    """Self-join on block keys producing candidate doc_id pairs (id_a < id_b).
    The equi-join on block keys is what keeps the pair space linear-ish:
    each block is small, so blocks shuffle independently and no executor
    ever sees the full corpus."""
    from ..tables import parallelize_scan

    sel = [F.col("doc_id").alias("id")] + [
        c.alias(f"blk_{i}") for i, c in enumerate(block_cols)
    ] + [v.alias(k) for k, v in payload.items()]
    # payload exprs (token arrays, shingle sets) are the map-side cost of
    # the block shuffle — don't let a single-split scan serialize them
    side = parallelize_scan(df).select(*sel)
    a = side.select([F.col(c).alias(f"a_{c}") for c in side.columns])
    b = side.select([F.col(c).alias(f"b_{c}") for c in side.columns])
    cond = [F.col(f"a_blk_{i}") == F.col(f"b_blk_{i}") for i in range(len(block_cols))]
    cond.append(F.col("a_id") < F.col("b_id"))
    return a.join(b, cond)


def jaccard_pairs(df: DataFrame) -> DataFrame:
    """M2-class n-gram (word) Jaccard near-dup pairs of (doc_id, text,
    source, n_chars) rows, blocked by (source, 50-char length bucket).
    Returns (id_a, id_b, jaccard), jaccard >= JACCARD_DUP_THRESHOLD."""
    pairs = _blocked_pairs(
        df,
        [F.col("source"), F.floor(F.col("n_chars") / F.lit(50))],
        {"tok": F.expr(distinct_tokens("text"))},
    )
    j = F.expr(word_jaccard("a_tok", "b_tok"))
    return (
        pairs.select(
            F.col("a_id").alias("id_a"),
            F.col("b_id").alias("id_b"),
            F.round(j, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_DUP_THRESHOLD)
    )


def jaccard_pairs_gemm(df: DataFrame) -> DataFrame:
    """jaccard_pairs via per-block binary GEMM (applyInPandas).

    Same blocking and output contract as jaccard_pairs; the pair work
    runs as one matrix multiply per block: rows = docs, columns = the
    block's token vocabulary, intersections = B @ B.T, unions from row
    sums. Each doc's text crosses the wire once instead of once per
    candidate pair (the measured cost of the join formulation — see
    knn_per_block_gemm). Tokenization mirrors functions.text_funcs.tokens
    exactly: lower, split on single spaces, drop empties, distinct.
    """
    schema = "id_a long, id_b long, jaccard double"
    threshold = JACCARD_DUP_THRESHOLD

    def block_pairs(pdf):  # closure: executors don't import this repo
        import numpy as np
        import pandas as _pd

        empty = _pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []})
        m = len(pdf)
        if m < 2:
            return empty
        ids = pdf["doc_id"].to_numpy()
        token_sets = [
            frozenset(t for t in (s or "").lower().split(" ") if t)
            for s in pdf["text"]
        ]
        vocab = {}
        for ts in token_sets:
            for t in ts:
                vocab.setdefault(t, len(vocab))
        if not vocab:
            return empty
        B = np.zeros((m, len(vocab)), dtype=np.float32)
        for i, ts in enumerate(token_sets):
            for t in ts:
                B[i, vocab[t]] = 1.0
        # counts are small integers — exact in float32 GEMM — but the
        # division and 4-decimal rounding must run in float64 or the
        # rounded values carry float32 noise (0.8333 -> 0.83329999...)
        inter = (B @ B.T).astype(np.float64)
        sizes = inter.diagonal()
        union = sizes[:, None] + sizes[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            J = np.round(np.where(union > 0, inter / union, np.nan), 4)
        ia, ib = np.where(J >= threshold)
        keep = ids[ia] < ids[ib]
        return _pd.DataFrame(
            {
                "id_a": ids[ia][keep],
                "id_b": ids[ib][keep],
                "jaccard": J[ia, ib][keep],
            }
        )

    blocked = df.select(
        F.col("doc_id"),
        F.col("text"),
        F.col("source").alias("__blk_src"),
        F.floor(F.col("n_chars") / F.lit(50)).alias("__blk_len"),
    )
    # explicit block-key repartition before the groupBy — same AQE-
    # coalescing guard as embedding_cosine_pairs_gemm (see there): the
    # per-block GEMM is quadratic in rows, so byte-based partition
    # coalescing starves it
    spread = df.sparkSession.sparkContext.defaultParallelism
    return (
        blocked.repartition(spread, "__blk_src", "__blk_len")
        .groupBy("__blk_src", "__blk_len")
        .applyInPandas(block_pairs, schema)
    )


# Banding/chunk layout constants — the SINGLE definition shared by the
# production pair operators below and the certification queries
# (queries/dedup_q.py dedup_minhash_lsh / dedup_simhash), which replay
# the same banding over distinct token sets. Importing from here (and
# building band hashes through the helpers below) keeps certification
# and production from drifting if the layout ever changes.
MINHASH_N_PERM = 32
MINHASH_BANDS = 8
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4

# Near-duplicate cut-offs: word Jaccard for the text tiers, rounded
# cosine for the embedding tier.
JACCARD_DUP_THRESHOLD = 0.7
COSINE_DUP_THRESHOLD = 0.35
# Row-chunk of embedding_cosine_pairs_gemm's per-block matmul (peak
# memory chunk x block rows; results do not depend on it).
GEMM_CHUNK = 4096

# connected_components small-graph cap: a pair list at or under this
# many rows is labeled driver-side in one collect (~3 MB of long pairs —
# the broadcast-relation size class) instead of running the multi-round
# distributed loop. Larger graphs take the loop.
SMALL_GRAPH_PAIRS = 200_000

# connected_components' distributed loop runs at most this many
# propagation steps (pointer jumping makes that O(log diameter)
# materializations) before it raises instead of returning split groups.
CC_MAX_STEPS = 20


def minhash_band_hashes(n_perm: int = MINHASH_N_PERM, bands: int = MINHASH_BANDS) -> list[str]:
    """SQL text per band: xxhash64 over that band's signature slots of
    the array<long> column `sig`. Bucket collision <=> band-hash equality,
    so this is both the production bucket key and the certification's
    hit predicate."""
    rows_per_band = n_perm // bands
    return [
        "xxhash64("
        + ", ".join(f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    ]


def simhash_chunk_structs() -> list[Column]:
    """struct(chunk, ckey) per 16-bit chunk of the long column `sig` —
    the blocking key layout shared by simhash_pairs and its
    certification."""
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    return [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("sig"), c * chunk_bits)
            .bitwiseAND(F.lit(mask))
            .alias("ckey"),
        )
        for c in range(SIMHASH_CHUNKS)
    ]


def minhash_signature(n_perm: int = MINHASH_N_PERM) -> str:
    """MinHash signature as ONE SQL expression string over the
    array<string> column `tok`: an array<long> whose slot i is
    the min over tokens of xxhash64(token, i). The whole signature
    computes inside codegen, no Python, no ML-pipeline intermediate
    DataFrames. Text, not Column objects, for simhash_signature_sql's
    reason: one parsed expression instead of n_perm Py4J-built lambdas
    (minhash_lsh_pairs' plan build: 0.48 -> 0.18 s, median of 10 calls
    on a 4-core VM)."""
    return "array(" + ", ".join(
        f"array_min(transform(tok, t -> xxhash64(t, {i})))"
        for i in range(n_perm)
    ) + ")"


def minhash_lsh_pairs(
    df: DataFrame,
    n_perm: int = MINHASH_N_PERM,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_DUP_THRESHOLD,
) -> DataFrame:
    """M2: MinHash-LSH near-dup detection over (doc_id, text) rows. shingle -> minhash -> band ->
    bucket -> verify. With 32 perms in 8 bands of 4, pairs with Jaccard
    0.7 collide in >=1 band w.p. ~0.97; all candidates are then verified
    with exact Jaccard so the output has no false positives. Returns
    (id_a, id_b, jaccard) — same contract as jaccard_pairs.

    Scale path: signatures are fixed-width (n_perm longs) regardless of
    doc size; buckets group on (band, hash), so the shuffle key space is
    uniform unless the corpus is degenerate, and a bucket's pairs are
    exactly those a (band, hash) equi-join would produce.
    """
    # candidates come from ONE (band, bucket) -> ids aggregate, expanded
    # to id_a < id_b: the signatures compute in a single stage (a bucket
    # self-join computed them once per join side), and the shuffle
    # carries BARE ids — carrying the token arrays would ship every
    # document's token set once per band (8x) and again through the pair
    # dedup; tokens attach once per DISTINCT candidate pair afterward (2
    # narrow joins back to the signature table). Measured at sf0.1 with
    # the bucket join: 258 s -> ~80 s, identical output. The whole
    # operator is one statement (see functions.sql_text).
    bands_sql = ", ".join(
        f"named_struct('band', {b}, 'bucket', {h})"
        for b, h in enumerate(minhash_band_hashes(n_perm, bands))
    )
    return df.sparkSession.sql(
        f"""
        WITH toks AS (
            SELECT id, tok, {minhash_signature(n_perm)} AS sig
            FROM (SELECT doc_id AS id, {distinct_tokens("text")} AS tok FROM {{df}})
        ), cand AS (
            SELECT DISTINCT id_a, id_b
            FROM (SELECT inline(flatten(transform(ids, a -> transform(
                             filter(ids, b -> a < b),
                             b -> named_struct('id_a', a, 'id_b', b)))))
                  FROM (SELECT band, bucket, collect_list(id) AS ids
                        FROM (SELECT id, inline(array({bands_sql})) FROM toks)
                        GROUP BY band, bucket))
        )
        {_verify_pairs("cand", "toks", threshold)}""",
        df=df,
    )


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Duplicate GROUPS from near-dup pairs: iterative minimum-label
    propagation (the standard large-graph connected-components loop,
    also what GraphFrames runs). Each member resolves to the smallest
    doc id reachable through the pair graph — the deterministic
    "canonical = first id of the similarity group" semantics SURVEY
    §7.4 #1 requires in place of the reference's arrival-order caches.

    Pair lists are quadratic on templated corpora; groups are the
    scale-honest dedup contract (one row per member, size bounded by the
    corpus). Each materialization is three edge-propagation steps plus
    one pointer-jumping compression (labels chase their label's label),
    so the materialization count is O(log diameter) — near-dup graphs
    are NOT always cliques (the bench corpus measured diameter 7 at
    sf0.1, chain-shaped templated text), and log-depth is what survives
    when chains grow with the corpus. A graph still changing after
    CC_MAX_STEPS propagation steps raises. Returns (doc_id,
    canonical_id).

    Small-graph fast path: at or under ``SMALL_GRAPH_PAIRS`` pair rows
    the labeling runs as ONE capped collect of the pair list + driver
    union-find (operators.bounded — a bounded driver materialization
    replacing a multi-round shuffle plan; the cap is ~3 MB of id pairs,
    far under any broadcast threshold). Each loop materialization costs
    2-3 scheduler rounds regardless of graph size, so a small graph
    would pay ~10 rounds of pure overhead. Above the cap the distributed
    loop runs, so the 100 TB shape is unchanged. Identical labels:
    union-find with min-root union is order-independent, needs no
    reverse edges, and yields the component minimum.
    """
    # The pair plan runs ONCE on either path: the probe's action
    # materializes this lazy checkpoint, and the loop's doubled edge list
    # is built from the checkpoint, not from `pairs`.
    checked = (
        pairs.selectExpr(f"{ident(id_a)} AS s", f"{ident(id_b)} AS d")
        .localCheckpoint(eager=False)
    )

    # --- small-graph fast path: capped collect + driver union-find ---
    head = bounded_collect(checked, SMALL_GRAPH_PAIRS)
    if head is not None:
        import pandas as pd

        label = min_label_components(
            zip(head.column("s").to_pylist(), head.column("d").to_pylist())
        )
        nodes = sorted(label)
        out = pd.DataFrame(
            {
                "doc_id": pd.Series(nodes, dtype="int64"),
                "canonical_id": pd.Series([label[n] for n in nodes], dtype="int64"),
            }
        )
        return pairs.sparkSession.createDataFrame(out, "doc_id long, canonical_id long")

    # (An explicit repartition(defaultParallelism, "s") of the edge list
    # was A/B-measured on a 12M-edge geo graph and REJECTED: the up-front
    # shuffle of the doubled edge list cost more than the loop won back
    # at this scale, and at 100 TB the edge list arrives from wide scans
    # with natural partitioning anyway.)
    edges = checked.unionByName(
        checked.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )

    # --- distributed loop: the 100 TB shape ---
    # localCheckpoint per block truncates lineage — without it the
    # plan doubles every round (each labels embeds the previous one) and
    # the driver OOMs on graphs needing more than a few hops
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=False)
    )

    def step(lbl):
        msgs = edges.join(lbl, edges["s"] == lbl["node"]).select(
            F.col("d").alias("node"), "comp"
        )
        return (
            lbl.unionByName(msgs).groupBy("node").agg(F.min("comp").alias("comp"))
        )

    def compress(lbl):
        # pointer jumping: comp <- label[comp]. Every comp value is
        # itself a node id (labels start as ids and only min-combine),
        # so one self-join halves the remaining pointer-chain depth —
        # propagate+compress converges in O(log d) materializations
        # where plain propagation needs O(d). The bench corpus measured
        # d=7 at sf0.1 (chain-shaped near-dup components, NOT cliques),
        # and d grows with corpus size on templated text; log-depth is
        # the shape that survives 100 TB.
        m = lbl.select(F.col("node").alias("cnode"), F.col("comp").alias("ccomp"))
        return lbl.join(m, lbl["comp"] == m["cnode"], "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("ccomp"), F.col("comp"))
            ).alias("comp"),
        )

    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    converged = False
    steps_done = 0
    while steps_done < CC_MAX_STEPS:
        # THREE propagation steps + ONE pointer-jump per
        # materialization, then a convergence probe. The probe-per-block
        # (not per-step) cadence bounds driver round-trips — the
        # measured source of the bench run-to-run swing — and the
        # pointer jump makes the block count O(log d). Block size 3 was
        # A/B'd against 2 on the bench graph (sf0.1, d=7): one fewer
        # materialization round, 3.9s -> 3.3s, identical groups; the
        # cost of a bigger block is only extra no-op steps in the final
        # confirming block. Labels only decrease, so an unchanged sum
        # across a whole block implies every operation in it was a no-op
        # (fixpoint: at convergence label[label[x]] == label[x], so
        # compression is also a no-op).
        block = min(3, CC_MAX_STEPS - steps_done)
        lbl = labels
        for _ in range(block):
            lbl = step(lbl)
        # lazy: the probe right below materializes this checkpoint in
        # the SAME job it reads the sum from (one job per block, not two)
        labels = compress(lbl).localCheckpoint(eager=False)
        steps_done += block
        new_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Labels only decrease, so a still-shrinking sum at the cap means
        # components that should merge are still split — fail loudly
        # instead of returning silently-wrong groups on chain graphs.
        raise RuntimeError(
            f"connected_components: min-label propagation did not converge "
            f"within CC_MAX_STEPS={CC_MAX_STEPS} propagation steps (graph "
            f"diameter exceeds the cap)"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("canonical_id"))


def simhash_signature_sql(hashes_expr: str, bits: int = 64) -> str:
    """SimHash as ONE SQL expression string over `hashes_expr` (the SQL
    text of an array<long> of token hashes): for each bit b, vote +1/-1
    by whether bit b is set across token hashes; signature bit b =
    (vote > 0); result is a long.

    A string, not Column objects (r14, the r13 k-means Py4J-chatter
    fix): the previous 64-iteration Column build — an aggregate lambda,
    a when-chain and a bitwise OR per bit — cost ~8-9 s of driver
    round trips PER CALL (dedup_simhash's entire build phase); one
    parsed expression costs ~0.2 s. Every operation is exact 64-bit
    integer arithmetic, so the computed signatures are identical by
    construction (pinned by the existing known-signature tests)."""
    bit_terms = []
    for b in range(bits):
        vote = (
            f"aggregate({hashes_expr}, CAST(0 AS BIGINT), (acc, h) ->"
            f" acc + (CASE WHEN (shiftright(h, {b}) & 1) = 1"
            f" THEN 1 ELSE -1 END))"
        )
        # set bit b via shiftleft (2**63 would overflow a literal;
        # shifting keeps it in Java long arithmetic)
        bit_terms.append(
            f"(CASE WHEN {vote} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b})"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    return "CAST(0 AS BIGINT) | " + " | ".join(bit_terms)


def simhash_signature(hashes_expr: str, bits: int = 64) -> Column:
    """simhash_signature_sql as a Column. Takes the SQL TEXT of the
    hashes expression (e.g. "transform(tok, t -> xxhash64(t))"), not a
    Column — see simhash_signature_sql for why."""
    return F.expr(simhash_signature_sql(hashes_expr, bits))


def simhash_pairs(df: DataFrame, max_hamming: int = 8) -> DataFrame:
    """M2/M3-class SimHash near-dup pairs of (doc_id, text) rows. Blocking: split the 64-bit
    signature into (max_hamming/16+1... practical: 4) 16-bit chunks —
    pairs within Hamming<=max_hamming must agree on >=1 chunk when
    max_hamming < 4*? (pigeonhole holds for max_hamming <= 3 with 4
    chunks; larger budgets trade recall). Candidates verified with the
    true Hamming distance. Returns (id_a, id_b, hamming)."""
    hashed = df.select(
        F.col("doc_id").alias("id"),
        F.transform(F.expr(distinct_tokens("text")), lambda t: F.xxhash64(t)).alias("th"),
    )
    sigs = hashed.select("id", simhash_signature("th", SIMHASH_BITS).alias("sig"))
    banded = sigs.select(
        "id",
        "sig",
        F.explode(F.array(*simhash_chunk_structs())).alias("cc"),
    ).select("id", "sig", "cc.chunk", "cc.ckey")
    a = banded.select("chunk", "ckey", F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = banded.select("chunk", "ckey", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    cand = (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_cosine_pairs(emb: DataFrame) -> DataFrame:
    """M3: embedding-cosine near-dup pairs of (vec_id, label, embedding)
    rows within label blocks. The block column stands in for an LSH
    bucket (BucketedRandomProjectionLSH would generate it for unblocked
    corpora). Returns (id_a, id_b, cosine_sim), cosine_sim >=
    COSINE_DUP_THRESHOLD."""
    side = emb.select(
        F.col("vec_id").alias("id"), F.col("label").alias("blk"), unit(F.col("embedding")).alias("v")
    )
    a = side.select(F.col("id").alias("id_a"), F.col("blk"), F.col("v").alias("v_a"))
    b = side.select(F.col("id").alias("id_b"), F.col("blk"), F.col("v").alias("v_b"))
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    sim = dot(F.col("v_a"), F.col("v_b"))
    return pairs.select(
        "id_a", "id_b", F.round(sim, 4).alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= COSINE_DUP_THRESHOLD)


def embedding_cosine_pairs_gemm(
    emb: DataFrame, block_col: str = "label", threshold: float = COSINE_DUP_THRESHOLD
) -> DataFrame:
    """embedding_cosine_pairs via per-block numpy GEMM (applyInPandas)
    — the production kernel; the expression variant above is its
    verification twin (equality pinned in tests/test_dedup.py, the same
    device as langid_trigram_fast / knn_per_block_gemm).

    Why: the expression path materializes BOTH 64-dim arrays through
    the within-block join output and evaluates an interpreted
    zip_with/aggregate per candidate pair — at sf1 that is ~20M pair
    rows x 64 elements dominating the audit tail. Here each vector
    crosses the wire ONCE (Arrow), the pair work is one BLAS matmul per
    row-chunk, and only >= threshold pairs are emitted (output-sized,
    not candidate-sized). Same contract: ids sorted so id_a < id_b,
    cosine rounded to 4 BEFORE the threshold compare.

    Scale: one task per block; chunked GEMM bounds peak memory at
    GEMM_CHUNK x m without changing results. Blocks beyond single-task
    memory shard through the blocked expression variant.
    """
    schema = "id_a long, id_b long, cosine_sim double"
    chunk = GEMM_CHUNK

    def pairs_block(pdf):  # closure: executors don't import this repo
        import numpy as np
        import pandas as _pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        m = len(ids)
        if m < 2:
            return _pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        M /= norms
        out_a, out_b, out_s = [], [], []
        for lo in range(0, m, chunk):
            hi = min(lo + chunk, m)
            S = np.round(M[lo:hi] @ M.T, 4)
            # strict upper order by ID, not position: a block holding
            # duplicate vec_ids must not emit an id_a == id_b pair (the
            # expression twin's id_a < id_b filter drops those)
            r, c = np.nonzero(S >= threshold)
            keep = ids[c] > ids[r + lo]
            r, c = r[keep], c[keep]
            out_a.extend(ids[r + lo])
            out_b.extend(ids[c])
            out_s.extend(S[r, c])
        return _pd.DataFrame(
            {"id_a": out_a, "id_b": out_b, "cosine_sim": out_s}
        )

    # explicit repartition on the block key (r13): groupBy satisfies its
    # clustered-distribution requirement from this user-specified hash
    # partitioning (no second exchange), and — unlike the groupBy's own
    # exchange — AQE's byte-based coalescing leaves it alone. Without it
    # a small-BYTES block frame coalesces to 1-2 partitions while each
    # block's GEMM is quadratic in rows (measured sf0.1: the 5-cluster
    # semdedup pair stage ran 2 tasks, 0.52s, on 32 idle cores).
    spread = emb.sparkSession.sparkContext.defaultParallelism
    return (
        emb.select("vec_id", block_col, "embedding")
        .repartition(spread, block_col)
        .groupBy(block_col)
        .applyInPandas(pairs_block, schema)
    )


def minhash_md5_pairs(df: DataFrame) -> DataFrame:
    """M2 (oracle-replayable tier), over (doc_id, text) rows: MinHash-LSH whose hash family is
    md5-derived — ``sampling.hash_deviate(token, seed)`` — which DuckDB
    reproduces bit-for-bit, so the ENTIRE pipeline (signatures,
    banding, candidate join, exact-Jaccard verify) is SQL-checkable end
    to end. The xxhash64 variant (minhash_lsh_pairs) stays the
    throughput path; this one is the correctness witness for the same
    algorithm, and the doc-level reference of the set-level contracts.

    Shape: setsim.minhash_md5_set_candidates keyed by doc id (16
    per-seed hashes over the vocabulary, groupBy-min signatures, 4
    bands, band equi-join on bare ids); every candidate is
    exact-verified, so no false positives survive.
    """
    toks = df.select(
        F.col("doc_id").alias("id"), F.expr(distinct_tokens("text")).alias("tok")
    )
    cand = minhash_md5_set_candidates(
        toks.select(F.col("id").alias("mask"), F.explode("tok").alias("t"))
    ).select(F.col("mask_a").alias("id_a"), F.col("mask_b").alias("id_b"))
    return df.sparkSession.sql(
        _verify_pairs("{cand}", "{toks}", JACCARD_DUP_THRESHOLD), cand=cand, toks=toks
    )


def _verify_pairs(cand: str, toks: str, threshold: float) -> str:
    """Exact-Jaccard verification of bare-id candidate pairs, as SQL
    text over the relations named `cand` (id_a, id_b) and `toks` (id,
    tok): tokens re-attach per pair, never shipped through the band
    shuffle. Output (id_a, id_b, jaccard), jaccard rounded to 4."""
    jaccard = f"round({word_jaccard('a.tok', 'b.tok')}, 4)"
    return f"""
        SELECT c.id_a, c.id_b, {jaccard} AS jaccard
        FROM {cand} c JOIN {toks} a ON c.id_a = a.id JOIN {toks} b ON c.id_b = b.id
        WHERE {jaccard} >= {dlit(threshold)}"""


def simhash_md5_pairs(df: DataFrame) -> DataFrame:
    """M2 (oracle-replayable tier), over (doc_id, text) rows: SimHash whose per-token hashes are
    md5-derived, so signatures, chunk blocking, and Hamming verify all
    replay bit-for-bit in DuckDB (the xxhash64 simhash_pairs stays the
    throughput path). 48-bit signature (top bit headroom keeps every
    intermediate a positive BIGINT in both engines), 3x16-bit chunk
    blocking: pairs within Hamming distance 2 are guaranteed a shared
    chunk (pigeonhole); beyond that recall is partial and documented —
    identical trade to the fast path.

    Shape: tokens explode once; the 48 per-bit votes are parallel
    conditional sums in ONE groupBy (no per-bit re-scan); the signature
    reassembles with shiftleft; candidates come from a 3-way chunk
    equi-join, verified by bit_count(xor).
    """
    n_bits, chunk_bits = 48, 16
    n_chunks = n_bits // chunk_bits
    toks = df.select(
        F.col("doc_id").alias("id"), F.expr(distinct_tokens("text")).alias("tok")
    )
    tok_rows = toks.select("id", F.explode("tok").alias("t"))
    # vocab-sized hashing: the "sim" md5 runs once per distinct token,
    # joined back to the occurrence rows (bit-identical values)
    hashed = tok_rows.join(
        md5_token_vocab_hashes(tok_rows, [("h", "sim")]), "t"
    ).select("id", "h")
    votes = hashed.groupBy("id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), b) % 2).alias(f"ones{b}")
            for b in range(n_bits)
        ],
    )
    sig = votes.select(
        "id",
        sum(
            [
                F.when(
                    2 * F.col(f"ones{b}") > F.col("n"),
                    F.shiftleft(F.lit(1).cast("long"), b),
                ).otherwise(F.lit(0).cast("long"))
                for b in range(n_bits)
            ],
            F.lit(0).cast("long"),
        ).alias("sig"),
    )
    chunked = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        (
                            F.shiftright(F.col("sig"), c * chunk_bits)
                            % (1 << chunk_bits)
                        ).alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "sig", "cc.c", "cc.chunk")
    a = chunked.select(
        "c", "chunk", F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
    )
    b = chunked.select(
        "c", "chunk", F.col("id").alias("id_b"), F.col("sig").alias("sig_b")
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    # Hamming filter BEFORE the pair dedup (r12 sf1 profile): the
    # filter is map-side xor+popcount while dropDuplicates is a shuffle
    # of every candidate, so filter-first never loses and wins big when
    # most candidates fail the cut. Value-identical: duplicate
    # candidate rows of a pair carry identical sigs, so dedup-then-
    # filter == filter-then-dedup. (On THIS corpus 97% of candidates
    # pass — 260.4M of 268.6M at sf1 — so the A/B was a tie, 89.9s vs
    # 90.1s warm; the reorder is kept for the general corpus where the
    # Hamming cut, not blocking, does the work.)
    return (
        a.join(b, ["c", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(ham <= 8)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
    )
