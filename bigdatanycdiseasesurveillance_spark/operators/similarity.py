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


# rp_signature's 8 seeded random hyperplanes (numpy default_rng(42),
# 6-decimal literals so Spark and DuckDB hash identical planes)
RP_PLANES = [
    [0.304717, -1.039984, 0.750451, 0.940565, -1.951035, -1.302180, 0.127840, -0.316243, -0.016801, -0.853044, 0.879398, 0.777792, 0.066031, 1.127241, 0.467509, -0.859292, 0.368751, -0.958883, 0.878450, -0.049926, -0.184862, -0.680930, 1.222541, -0.154529, -0.428328, -0.352134, 0.532309, 0.365444, 0.412733, 0.430821, 2.141648, -0.406415, -0.512243, -0.813773, 0.615979, 1.128972, -0.113947, -0.840156, -0.824481, 0.650593, 0.743254, 0.543154, -0.665510, 0.232161, 0.116686, 0.218689, 0.871429, 0.223596, 0.678914, 0.067579, 0.289119, 0.631288, -1.457156, -0.319671, -0.470373, -0.638878, -0.275142, 1.494941, -0.865831, 0.968278, -1.682870, -0.334885, 0.162753, 0.586222],
    [0.711227, 0.793347, -0.348725, -0.462352, 0.857976, -0.191304, -1.275686, -1.133287, -0.919452, 0.497161, 0.142426, 0.690485, -0.427253, 0.158540, 0.625590, -0.309347, 0.456775, -0.661926, -0.363054, -0.381738, -1.195840, 0.486972, -0.469402, 0.012494, 0.480747, 0.446531, 0.665385, -0.098485, -0.423298, -0.079718, -1.687334, -1.447112, -1.322700, -0.997247, 0.399774, -0.905479, -0.378163, 1.299228, -0.356264, 0.737516, -0.933618, -0.205438, -0.950022, -0.339033, 0.840308, -1.727320, 0.434424, 0.237736, -0.594150, -1.446058, 0.072130, -0.529493, 0.232676, 0.021852, 1.601779, -0.239356, -1.023497, 0.179276, 0.219997, 1.359188, 0.835111, 0.356871, 1.463303, -1.188763],
    [-0.639752, -0.926576, -0.389810, -1.376686, 0.635151, -0.222223, -1.470806, -1.015579, 0.313514, 0.838127, 1.996731, 2.913862, 0.414409, -0.989538, -2.132046, 0.267711, -0.812941, -0.415357, -0.612097, -0.140791, 1.065980, 0.157049, -0.158635, -1.035654, -1.674683, -0.486308, -0.053783, 1.767930, 0.130275, 0.982740, -0.499296, -1.184944, -0.965117, -0.725226, 2.128470, -0.821387, 0.838489, -0.902927, 0.931573, 0.384951, -0.156638, -0.040763, -0.654788, 0.446072, -0.454983, -1.225606, -1.277938, 0.172588, 1.579091, 0.159992, -0.118638, 0.285826, 1.306002, 0.219383, -0.410927, 1.106289, 0.428756, 1.535756, 0.183234, -1.224469, -1.368159, 1.650928, 1.723666, -0.179519],
    [-0.383187, 1.461444, -1.107046, -0.894727, 0.643327, -0.394605, -0.005122, -0.163443, 0.337575, 1.407482, 0.090585, 0.643939, -2.050172, -0.048718, -0.843230, -1.218813, -0.878152, -0.334123, 0.915903, -1.326393, 0.030631, -0.484169, -0.327673, 1.002758, 0.538115, 1.337398, -0.154506, -0.695943, -0.223859, 0.242497, 0.176573, -1.084388, 0.090490, 0.228228, 2.517474, 1.876845, -0.853243, -0.287383, -1.463442, -0.590707, 0.315605, 1.205854, -0.729084, -0.654146, -2.147289, -0.162666, -1.062414, -0.529439, -0.876861, -0.094263, -1.757728, -1.467045, 2.129247, -1.287423, -1.096786, 1.836914, 2.905067, -1.171567, -0.368249, 0.341556, 1.728698, -0.986857, -0.245278, 0.777338],
    [0.434766, -0.376156, -0.133823, -1.374896, -0.238174, -0.266387, 0.232170, -0.555327, 0.471539, 1.012716, 0.155429, 0.351756, 0.053155, 0.000084, -0.721558, 0.316494, -0.097287, 2.093168, 1.573355, 0.385847, -0.763057, -1.112411, 1.191143, 0.262749, 0.480143, -1.744586, 0.927438, 0.454420, -1.110431, -0.471525, 0.263717, 0.052467, -0.292171, -0.103488, -0.251977, 0.152563, 1.471492, -2.566658, -0.236850, 0.176512, 0.295994, -0.371915, -1.756722, 0.327995, 1.727350, -1.533861, 0.863828, -0.328525, -0.061324, -1.052899, -0.334456, 1.300045, 0.582655, 1.732312, 1.177412, 0.439087, 1.743935, 0.438993, 0.827988, -0.296571, 0.066546, -0.697424, 0.989584, -1.178304],
    [0.782350, -0.190651, 1.171247, 0.750869, 1.820646, 0.730775, -1.572040, -0.066953, -1.172007, -0.518280, 1.511228, 0.637534, -0.698930, -1.013717, 0.032782, -1.216560, -0.671140, 0.312009, 1.155312, 0.608761, -2.291290, 0.304367, 0.072034, 0.413890, 1.616210, -2.063238, -0.591103, 0.590906, -1.581594, 1.475949, 0.368357, 0.846584, -0.570944, 0.813764, 1.068472, 0.232878, 0.234401, 0.270343, -0.863345, -0.147529, -0.152523, 0.383394, 0.999824, -1.058536, -0.125009, 1.481456, -0.743588, -0.822250, 0.202306, 0.844385, 0.011426, 1.328961, 0.856794, 0.841820, 0.554117, 2.327653, -0.205162, -2.003522, 1.604254, -0.457699, 0.107880, 1.309551, -1.602260, -1.251647],
    [-1.601278, -0.794136, 0.439637, 0.524188, 0.276274, -1.412766, -2.310103, 0.054354, -0.471776, 0.459386, 0.701954, 0.138241, 0.760133, 0.229211, 0.530065, -0.704673, -0.179611, 0.196776, 0.820528, -0.393741, 0.521167, -0.265839, -0.117542, 0.829519, -1.993060, -1.296472, -1.482185, -2.333616, -0.678264, 0.749434, -0.284884, 0.197790, 1.089217, 1.327686, -0.069138, 1.353586, 0.092127, -0.837398, -0.594400, -1.480537, -0.888134, -0.358017, 0.803585, 1.720770, -1.382182, 0.392827, -1.040544, 0.474697, -0.131087, -1.830906, 0.928297, -0.605001, -0.533900, -1.069752, -0.654283, 0.427890, -0.189244, 0.328662, 0.361922, 1.320662, -0.342786, -1.476858, 1.067222, -0.331488],
    [1.114592, 0.383377, -0.131138, 0.348776, 1.951013, 2.076981, 0.069381, 0.160191, 1.076240, -0.845661, 0.333070, -0.025863, 0.313908, -0.833369, -1.589567, -2.072983, -1.117384, -0.458675, -0.293192, 1.937231, 1.105993, -0.962091, 0.347708, -0.407078, -0.284364, 0.185326, 0.619171, -0.339258, 1.063852, -1.141938, 0.006339, 2.597674, 0.223080, 1.433215, 0.091520, 0.580777, -0.056783, -0.170408, -0.779482, 0.430301, -0.851537, 0.665585, 1.085287, 0.366531, -0.286249, 0.453966, -0.308673, 0.935547, -1.831406, -0.335607, -1.990812, -1.495061, 1.363862, 0.895185, -0.719480, -1.502503, -2.964529, -0.543496, 2.420415, 0.434884, -0.559572, 0.465080, -1.560958, -0.297323],
]


def rp_signature() -> Column:
    """Random-hyperplane LSH signature of the `embedding` column: bit b =
    sign of the dot product with seeded hyperplane b of RP_PLANES,
    packed into an integer bucket key. Cosine-similar vectors agree on
    most signs, so near-dups collide; the signature is a handful of dot
    products per row, all in codegen."""
    v = as_double(F.col("embedding"))
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(RP_PLANES):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(v, p) > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(bit)
    return sig


def rp_lsh_pairs(emb: DataFrame) -> DataFrame:
    """M3 at scale: embedding near-dup pairs WITHOUT a precomputed block
    column — random-projection buckets bound the candidate set (the
    unblocked-corpus replacement for label blocking / Spark ML's
    BucketedRandomProjectionLSH), then exact cosine verifies. Returns
    (id_a, id_b, cosine_sim), cosine_sim >= 0.3."""
    side = emb.select(
        F.col("vec_id").alias("id"),
        rp_signature().alias("bucket"),
        unit(F.col("embedding")).alias("u"),
    )
    a = side.select(F.col("id").alias("id_a"), "bucket", F.col("u").alias("v_a"))
    b = side.select(F.col("id").alias("id_b"), "bucket", F.col("u").alias("v_b"))
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    sim = F.round(dot(F.col("v_a"), F.col("v_b")), 4)
    return pairs.select("id_a", "id_b", sim.alias("cosine_sim")).filter(
        F.col("cosine_sim") >= 0.3
    )


def hard_negatives(emb: DataFrame) -> DataFrame:
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
        rp_signature().alias("bucket"),
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


def rp_lsh_multiprobe_pairs(emb: DataFrame) -> DataFrame:
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
    nbits = len(RP_PLANES)
    side = emb.select(
        F.col("vec_id").alias("id"),
        rp_signature().alias("bucket"),
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
