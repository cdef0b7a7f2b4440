"""Similarity search over embedding columns (SURVEY §2.11 M5 +
training-pipeline ANN).

The reference delegates vector search to ChromaDB (reference:
src/database/chromadb_client.py:194-306: query by text, metadata
filters, n_results). Here the embedding is a native ArrayType column and
search is a DataFrame plan:

- brute-force cosine top-k: exact baseline — a single scan with a
  codegen'd cosine expression and TakeOrderedAndProject. At 100 TB this
  is the per-partition scan you run when the candidate set is already
  bucketed;
- IVF-style bucketed search: restrict the scan to the query's coarse
  cell (here the `label` column; `ivf_assign` computes cells from
  centroids when none exist). This is the nprobe=1 scale path — the
  scan touches 1/k of the corpus;
- knn-join per block: every vector's top-k neighbors within its cell —
  the all-pairs building block for embedding dedup and clustering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine, dot, unit

# ivf_search's top-k
IVF_TOPK = 10


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    where: Column | None = None,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Exact cosine top-k of the `embedding` column against a literal
    query vector. The query
    vector is a literal array, so the comparison is a scan + ordered
    top-k — no join, no shuffle of the corpus, TakeOrderedAndProject
    keeps only k rows per partition. extra_cols carries metadata
    columns (the Chroma-style filtered-search projection) through."""
    # one parsed expression, not len(vec) Py4J literal calls
    q = F.expr("array(" + ", ".join(repr(float(x)) + "D" for x in query_vec) + ")")
    scored = emb if where is None else emb.filter(where)
    sim = cosine(as_double(F.col("embedding")), as_double(q))
    carried = [F.col(c) for c in (extra_cols or [])]
    return (
        scored.select(F.col(id_col), *carried, F.round(sim, 4).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def knn_per_block(emb: DataFrame) -> DataFrame:
    """Top-3 neighbors for EVERY vector of (vec_id, label, embedding)
    rows within its label block (IVF cell).
    Block equi-join keeps the pair space per-cell; the ranking window
    partitions on the left id so the top-k never leaves the executors.
    Returns (vec_id, neighbor_id, cosine_sim, rank).

    Each side projects a unit vector BEFORE the join, so the per-pair
    cost is one dot product; norms/casts run O(n), not O(pairs). The
    block join is salted 8 ways: cell counts are few (an IVF corpus has
    thousands of cells but a label-blocked one may have 10), so without
    salting the pair-generation shuffle runs on n_blocks tasks; salting
    spreads each block over 8 buckets with identical results."""
    from .skew import salted_join

    side = emb.select(
        F.col("vec_id").alias("id"), F.col("label").alias("blk"), unit(F.col("embedding")).alias("u")
    )
    a = side.select(F.col("id").alias("vec_id"), "blk", F.col("u").alias("v_a"))
    b = side.select(F.col("id").alias("neighbor_id"), "blk", F.col("u").alias("v_b"))
    pairs = salted_join(a, b, on="blk", left_salt_from=["vec_id"]).filter(
        F.col("vec_id") != F.col("neighbor_id")
    )
    sim = F.round(dot(F.col("v_a"), F.col("v_b")), 4)
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.select("vec_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "vec_id",
            "neighbor_id",
            F.col("sim").alias("cosine_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def knn_per_block_gemm(emb: DataFrame) -> DataFrame:
    """knn_per_block via per-cell numpy GEMM (applyInPandas).

    The pure-DataFrame knn join materializes BOTH 64-dim arrays for
    every candidate pair through the join output — measured, that copy
    dominates (the dots themselves are ~2% of the time). Grouping by
    cell and computing the m×m similarity as one matrix multiply moves
    each vector across the wire ONCE (Arrow), runs the pair work in
    BLAS, and emits only the top-k rows. Same contract and tie-breaks
    as knn_per_block (rounded-sim desc, neighbor asc): oracle-checked.

    Scale: one task per cell; m×m fits memory for IVF-sized cells
    (m ≤ ~20k). Bigger cells shard via the blocked pure-SQL variant.
    """
    schema = "vec_id long, neighbor_id long, cosine_sim double, rank long"

    def topk_block(pdf):  # closure: executors don't import this repo
        import numpy as np
        import pandas as _pd

        ids = pdf["vec_id"].to_numpy()
        m = len(ids)
        if m < 2:
            return _pd.DataFrame(
                {"vec_id": [], "neighbor_id": [], "cosine_sim": [], "rank": []}
            )
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        M /= norms
        S = np.round(M @ M.T, 4)
        np.fill_diagonal(S, -np.inf)
        kk = min(3, m - 1)
        out_id, out_nb, out_sim, out_rank = [], [], [], []
        for i in range(m):
            order = np.lexsort((ids, -S[i]))[:kk]
            out_id.extend([ids[i]] * kk)
            out_nb.extend(ids[order])
            out_sim.extend(S[i, order])
            out_rank.extend(range(1, kk + 1))
        return _pd.DataFrame(
            {
                "vec_id": out_id,
                "neighbor_id": out_nb,
                "cosine_sim": out_sim,
                "rank": out_rank,
            }
        )

    # explicit block-key repartition before the groupBy — the same AQE-
    # coalescing guard as the dedup GEMM kernels (operators/dedup.py):
    # per-block GEMM work is quadratic in rows, so byte-based partition
    # coalescing starves the cores
    spread = emb.sparkSession.sparkContext.defaultParallelism
    return (
        emb.select("vec_id", "label", "embedding")
        .repartition(spread, "label")
        .groupBy("label")
        .applyInPandas(topk_block, schema)
    )


def ivf_centroids(emb: DataFrame) -> DataFrame:
    """Per-cell centroids of (label, embedding) rows as element-wise
    means: posexplode -> groupBy (cell, pos) -> avg -> re-assemble
    ordered array. Fully distributed; output is n_cells rows
    (broadcastable)."""
    exploded = emb.select(
        F.col("label").alias("cell"), F.posexplode(as_double(F.col("embedding")))
    ).toDF("cell", "pos", "val")
    dims = exploded.groupBy("cell", "pos").agg(F.avg("val").alias("m"))
    return dims.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.getField("m")
        ).alias("centroid")
    )


def ivf_build(emb: DataFrame, path: str | None = None) -> DataFrame:
    """BUILD-time IVF index step: compute the per-cell centroid table
    once, over the whole corpus. At 100 TB this is the one full scan you
    pay at index-build; pass `path` to persist the n_cells-row result as
    parquet so every subsequent query reads the tiny table instead of
    re-deriving it. Returns the centroid DataFrame (read back from
    `path` when persisted)."""
    cents = ivf_centroids(emb)
    if path is not None:
        cents.write.mode("overwrite").parquet(path)
        return emb.sparkSession.read.parquet(path)
    return cents


def ivf_search(
    emb: DataFrame,
    query_vec: list[float],
    nprobe: int = 1,
    where: Column | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search over label cells: rank cells by centroid similarity to
    the query, scan only the nprobe closest cells, exact top-IVF_TOPK
    inside them. The
    centroid table is tiny (collected to pick cells — n_cells rows, not
    data rows), and the data-side scan is a partition-pruned filter.

    `centroids` is the build-time artifact from ivf_build — REQUIRED
    for the scale path: without it the centroids are derived inline,
    which full-scans the corpus per query and defeats IVF's 1/k-scan
    point (kept only as a small-test convenience)."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(emb)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    ranked = (
        cents.select("cell", cosine(F.col("centroid"), as_double(q)).alias("csim"))
        .orderBy(F.desc("csim"), F.asc("cell"))
        .limit(nprobe)
    )
    probe_cells = [r["cell"] for r in ranked.collect()]
    cond = F.col("label").isin(probe_cells)
    if where is not None:
        cond = cond & where
    return brute_force_topk(emb, query_vec, IVF_TOPK, where=cond)


def rp_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH signature: bit b = sign of the dot product
    with seeded hyperplane b, packed into an integer bucket key. Cosine-
    similar vectors agree on most signs, so near-dups collide; the
    signature is a handful of dot products per row, all in codegen."""
    v = as_double(vec_col)
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(v, p) > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(bit)
    return sig


def rp_lsh_pairs(emb: DataFrame, planes: list[list[float]]) -> DataFrame:
    """M3 at scale: embedding near-dup pairs WITHOUT a precomputed block
    column — random-projection buckets bound the candidate set (the
    unblocked-corpus replacement for label blocking / Spark ML's
    BucketedRandomProjectionLSH), then exact cosine verifies. Returns
    (id_a, id_b, cosine_sim), cosine_sim >= 0.3."""
    side = emb.select(
        F.col("vec_id").alias("id"),
        rp_signature(F.col("embedding"), planes).alias("bucket"),
        unit(F.col("embedding")).alias("u"),
    )
    a = side.select(F.col("id").alias("id_a"), "bucket", F.col("u").alias("v_a"))
    b = side.select(F.col("id").alias("id_b"), "bucket", F.col("u").alias("v_b"))
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    sim = F.round(dot(F.col("v_a"), F.col("v_b")), 4)
    return pairs.select("id_a", "id_b", sim.alias("cosine_sim")).filter(
        F.col("cosine_sim") >= 0.3
    )


def hard_negatives(emb: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Contrastive-pair mining: for each anchor, the most cosine-similar
    vector with a DIFFERENT label among its RP-LSH bucket mates — the
    "hard negative" a contrastive trainer wants (similar surface,
    different class). Anchors whose bucket holds no cross-label vector
    yield no row (they have no hard negative at this recall level; add
    plane sets for multi-probe recall, same as rp_lsh_pairs).

    Scale shape: the bucket equi-join bounds candidates exactly like
    rp_lsh_pairs; the per-anchor argmax is a groupBy max(struct) — a
    partial-aggregating shuffle on the anchor id, never a global window.
    Ties break to the lowest negative id via the negated id in the
    struct orderings.
    """
    side = emb.select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("lbl"),
        rp_signature(F.col("embedding"), planes).alias("bucket"),
        unit(F.col("embedding")).alias("u"),
    )
    a = side.select(
        F.col("id").alias("id_a"), F.col("lbl").alias("lbl_a"), "bucket",
        F.col("u").alias("v_a"),
    )
    b = side.select(
        F.col("id").alias("id_b"), F.col("lbl").alias("lbl_b"), "bucket",
        F.col("u").alias("v_b"),
    )
    pairs = a.join(b, "bucket").filter(
        (F.col("id_a") != F.col("id_b")) & (F.col("lbl_a") != F.col("lbl_b"))
    )
    sim = F.round(dot(F.col("v_a"), F.col("v_b")), 4)
    return (
        pairs.select(F.col("id_a"), sim.alias("sim"), F.col("id_b"))
        .groupBy("id_a")
        .agg(F.max(F.struct(F.col("sim"), (-F.col("id_b")).alias("nid"))).alias("m"))
        .select(
            F.col("id_a").alias("vec_id"),
            (-F.col("m.nid")).cast("long").alias("hard_neg_id"),
            F.col("m.sim").alias("cosine_sim"),
        )
    )


def rp_lsh_multiprobe_pairs(emb: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Multi-probe RP-LSH: each vector probes its own bucket AND every
    1-bit-flip neighbor, so pairs whose signatures differ in at most one
    hyperplane sign also become candidates — the standard recall lever
    that costs nbits extra probe rows per vector instead of more hash
    tables (Lv et al., multi-probe LSH). Candidate recall strictly
    contains rp_lsh_pairs' (probe distance 0 is included); exact cosine
    verification keeps precision exact.

    Scale: probe rows explode nbits+1 per vector on the PROBE side only
    (the build side stays one row per vector), the join stays an
    equi-join on the bucket key, and a.id < b.id + distinct dedups the
    multi-route hits.
    """
    nbits = len(planes)
    side = emb.select(
        F.col("vec_id").alias("id"),
        rp_signature(F.col("embedding"), planes).alias("bucket"),
        unit(F.col("embedding")).alias("u"),
    )
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.shiftleft(F.lit(1).cast("long"), b))
            for b in range(nbits)
        ],
    )
    a = side.select(
        F.col("id").alias("id_a"),
        F.explode(probes).alias("bucket"),
        F.col("u").alias("v_a"),
    )
    b = side.select(F.col("id").alias("id_b"), "bucket", F.col("u").alias("v_b"))
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(dot(F.col("v_a"), F.col("v_b")), 4).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.3)
        .distinct()
    )
    return pairs


def quantize_recall_gemm(corpus: DataFrame, q: DataFrame) -> DataFrame:
    """Per-corpus-vector int8-quantization fidelity vs a fixed query
    vector, as one Arrow-batched numpy pass (mapInPandas) — the kernel
    behind emb_quantize_recall. `q` is the 1-row broadcast side carrying
    the query's exact (`qd`) and dequantized (`qdq`) double arrays,
    produced by the quantize_int8/dequantize COLUMN expressions (so the
    expression tier stays the production path for the query side and
    the numeric contract has a single definition point).

    Why: the expression formulation chains quantize -> dequantize ->
    cosine as interpreted HOFs PER CORPUS ROW (~5 ms/row; the dominant
    audit-tail entry at sf1). Here each Arrow batch quantizes as one
    vectorized floor(E/scale + 0.5) and the cosines are two GEMVs.
    Element-wise steps (cast, scale, floor, multiply) are bit-exact
    reproductions of the column expressions — pinned by
    tests/test_curation.py — and the dot/norm summation-order drift is
    absorbed by the same round-to-4 the oracle applies.
    """
    schema = "vec_id long, label int, cos_exact double, cos_quant double, abs_err double"
    joined = corpus.select("vec_id", "label", "embedding").crossJoin(F.broadcast(q))

    def batches(it):  # closure: executors don't import this repo
        import numpy as np
        import pandas as _pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qd = np.asarray(pdf["qd"].iloc[0], dtype=np.float64)
            qdq = np.asarray(pdf["qdq"].iloc[0], dtype=np.float64)
            scales = np.maximum(np.abs(E).max(axis=1) / 127.0, 1e-30)[:, None]
            Edq = np.floor(E / scales + 0.5) * scales
            ce = (E @ qd) / (np.linalg.norm(E, axis=1) * np.linalg.norm(qd))
            cq = (Edq @ qdq) / (
                np.linalg.norm(Edq, axis=1) * np.linalg.norm(qdq)
            )
            yield _pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    # + 0.0 collapses IEEE -0.0 (same device as the
                    # expression formulation)
                    "cos_exact": np.round(ce, 4) + 0.0,
                    "cos_quant": np.round(cq, 4) + 0.0,
                    "abs_err": np.round(np.abs(ce - cq), 4) + 0.0,
                }
            )

    return joined.mapInPandas(batches, schema)
