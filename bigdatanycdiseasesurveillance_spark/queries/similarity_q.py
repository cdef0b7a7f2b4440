"""Similarity-search query corpus (M5 + ANN) over `embeddings`."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import similarity as S
from ..registry import register
from ..tables import live_memo, table, values_dim


_QUERY_VEC: dict[str, list[float]] = {}

# the md5 stand-in encoder's width in the embedding queries and their
# oracles
_EMB_DIM = 64
# product quantization: subspaces x sub-vector dims (= 64), codewords
# per subspace, Lloyd iterations, and the ADC search's top-k — shared
# by emb_pq_codebook / emb_pq_adc_search and their oracles
PQ_SUBSPACES, PQ_SUB_DIM, PQ_CODES, PQ_ITERS, PQ_TOPK = 4, 16, 4, 4, 10


def _query_vec(spark, sf_dir) -> list[float]:
    """Collect the query vector (vec_id 0) once per dataset — it is an
    input to the search, not part of it; re-collecting per run charged
    an extra scan job to every ANN query."""
    if sf_dir not in _QUERY_VEC:
        row = (
            table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 0)
            .select("embedding")
            .first()
        )
        _QUERY_VEC[sf_dir] = [float(x) for x in row["embedding"]]
    return _QUERY_VEC[sf_dir]


@register(
    "ann_cosine_topk",
    oracle="""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4)
                   AS cosine_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """,
    tags=("ann", "M5"),
    bench=True,
)
def ann_cosine_topk(spark, sf_dir):
    """M5: exact brute-force cosine top-10 for a query vector (vec 0) —
    one scan + TakeOrderedAndProject, cosine fully in codegen."""
    qv = _query_vec(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, qv, k=10, where=F.col("vec_id") != 0)


@register(
    "ann_knn_per_label",
    # cosine computed ONCE in an inner projection that drops the vector
    # lists immediately: evaluating it again inside the window ORDER BY
    # kept two 64-double lists alive per pair row and OOM'd DuckDB at
    # sf1 (MemoryError)
    oracle="""
        WITH pairs AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 4)
                       AS cosine_sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        )
        SELECT * FROM (
            SELECT vec_id, neighbor_id, cosine_sim,
                   CAST(row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS BIGINT) AS rank
            FROM pairs
        ) WHERE rank <= 3
    """,
    tags=("ann", "knn"),
    bench=True,
)
def ann_knn_per_label(spark, sf_dir):
    """All-vectors kNN within blocks (IVF-cell-restricted knn-join): the
    building block for embedding dedup / clustering at scale. Runs the
    GEMM formulation (one Arrow transfer per vector, BLAS pair work);
    the pure-DataFrame knn_per_block variant computes the same result
    and is cross-checked in tests/test_similarity.py."""
    return S.knn_per_block_gemm(table(spark, sf_dir, "embeddings"))


@register(
    "ann_ivf_search",
    oracle="""
        -- positions hardcoded to the testdata's 64-dim embeddings (the
        -- engine side derives dimension from the data; DuckDB range()
        -- needs a constant)
        WITH pos AS (SELECT CAST(range AS INTEGER) + 1 AS p FROM range(64)),
        cent AS (
            SELECT label, list(avg_val ORDER BY p) AS centroid
            FROM (SELECT label, p, AVG(CAST(embedding[p] AS DOUBLE)) AS avg_val
                  FROM embeddings CROSS JOIN pos GROUP BY label, p)
            GROUP BY label
        ), q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        ), probe AS (
            SELECT label FROM cent, q
            ORDER BY list_cosine_similarity(centroid, qv) DESC, label
            LIMIT 2
        )
        SELECT e.vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4)
                   AS cosine_sim
        FROM embeddings e, q
        WHERE e.label IN (SELECT label FROM probe) AND e.vec_id <> 0
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """,
    tags=("ann", "ivf"),
    bench=True,
)
def ann_ivf_search(spark, sf_dir):
    """IVF search: rank cells by centroid similarity, scan only nprobe=2
    cells, exact top-k inside — the 1/k-corpus-scan scale path. The
    centroid table is the build-time artifact from ivf_build, built once
    per dataset and memoized (a deployment persists it as parquet);
    query time touches only the tiny centroid table plus the pruned
    corpus scan."""
    qv = _query_vec(spark, sf_dir)
    return S.ivf_search(
        table(spark, sf_dir, "embeddings"), qv, nprobe=2,
        where=F.col("vec_id") != 0,
        centroids=_ivf_index(spark, sf_dir),
    )


_IVF_INDEX: dict[tuple[str, str], object] = {}


def _ivf_index(spark, sf_dir):
    """Build-once IVF centroid artifact per (SparkContext, dataset): the
    collected centroid rows (n_cells × dim — kilobytes) recreated as a
    local DataFrame, standing in for the persisted parquet of
    ivf_build(path=...). Keyed by applicationId like tables._SCHEMA_MEMO
    so a new SparkContext — every driver bench/correctness run is a
    cold process anyway — always rebuilds, and a same-path dataset swap
    inside one test process cannot serve stale centroids across
    sessions; another context's entries are dropped on the way in. The
    memoized value is the parsed values_dim DataFrame itself, not just
    the rows: the 640-double VALUES SQL cost a full re-parse per call.
    Within one warm process the first ann_ivf_search run carries the
    k-means build; that is the documented bench semantics of a
    persisted build artifact."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir)
    if key not in live_memo(_IVF_INDEX, app):
        rows = [
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in S.ivf_build(table(spark, sf_dir, "embeddings")).collect()
        ]
        # values_dim -> LocalTableScan: re-broadcasting costs no job
        _IVF_INDEX[key] = values_dim(
            spark, rows, "cell int, centroid array<double>"
        )
    return _IVF_INDEX[key]


def _emb_oracle_cte() -> str:
    """Shared oracle prelude: the md5 pseudo-encoder replayed in SQL
    (md5_dim_sql is the single source of the formula)."""
    from ..operators.embeddings import md5_dim_sql

    return f"""
        WITH dims AS (SELECT unnest(range({_EMB_DIM})) AS d),
        raw AS (
            SELECT dd.doc_id, dd.lang, dims.d,
                   {md5_dim_sql('dd.text', 'dims.d')} AS x
            FROM documents dd CROSS JOIN dims
        )
    """


@register(
    "emb_encode_profile",
    oracle=_emb_oracle_cte()
    + f"""
        , vec AS (
            SELECT doc_id, lang,
                   sqrt(sum(x * x)) AS nrm,
                   sum(CASE WHEN d = 0 THEN x END) AS x0
            FROM raw GROUP BY 1, 2
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST({_EMB_DIM} AS BIGINT) AS dim,
               ROUND(AVG(1.0), 4) AS mean_l2_norm,
               ROUND(AVG(x0 / nrm), 4) AS mean_dim0
        FROM vec GROUP BY lang
    """,
    tags=("embedding", "M4", "oracle-replayable"),
    bench=True,
)
def emb_encode_profile(spark, sf_dir):
    """M4: mapInPandas embedding generation over documents (executor-
    local encoder singleton, Arrow batches) + per-language profile of
    the encoded corpus. The md5-derived pseudo-encoder is replayed
    verbatim by the DuckDB oracle, so this row is value-hash-checked
    end to end (float64 path — no float32 rounding asymmetry)."""
    from ..operators.embeddings import embedding_profile, encode_documents

    docs = table(spark, sf_dir, "documents")
    return embedding_profile(encode_documents(docs, dim=_EMB_DIM, dtype="float64"))


@register(
    "ann_filtered_search",
    oracle="""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id, e.label,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4)
                   AS cosine_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0 AND e.label IN (1, 3, 5) AND e.vec_id % 2 = 0
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """,
    tags=("ann", "M5", "filtered"),
)
def ann_filtered_search(spark, sf_dir):
    """M5 with metadata filters: the reference's ChromaDB
    query(where={borough/severity}) (chromadb_client.py:194-306) is a
    plain filter() fused into the similarity scan — predicates push to
    the parquet scan, then cosine + TakeOrdered run on the survivors."""
    qv = _query_vec(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(
        emb,
        qv,
        k=10,
        where=(F.col("vec_id") != 0)
        & F.col("label").isin(1, 3, 5)
        & (F.col("vec_id") % 2 == 0),
        extra_cols=["label"],
    )


# 8 seeded random hyperplanes (numpy default_rng(42), 6-decimal literals
# so Spark and DuckDB hash identical planes)
_RP_PLANES = [
    [0.304717, -1.039984, 0.750451, 0.940565, -1.951035, -1.302180, 0.127840, -0.316243, -0.016801, -0.853044, 0.879398, 0.777792, 0.066031, 1.127241, 0.467509, -0.859292, 0.368751, -0.958883, 0.878450, -0.049926, -0.184862, -0.680930, 1.222541, -0.154529, -0.428328, -0.352134, 0.532309, 0.365444, 0.412733, 0.430821, 2.141648, -0.406415, -0.512243, -0.813773, 0.615979, 1.128972, -0.113947, -0.840156, -0.824481, 0.650593, 0.743254, 0.543154, -0.665510, 0.232161, 0.116686, 0.218689, 0.871429, 0.223596, 0.678914, 0.067579, 0.289119, 0.631288, -1.457156, -0.319671, -0.470373, -0.638878, -0.275142, 1.494941, -0.865831, 0.968278, -1.682870, -0.334885, 0.162753, 0.586222],
    [0.711227, 0.793347, -0.348725, -0.462352, 0.857976, -0.191304, -1.275686, -1.133287, -0.919452, 0.497161, 0.142426, 0.690485, -0.427253, 0.158540, 0.625590, -0.309347, 0.456775, -0.661926, -0.363054, -0.381738, -1.195840, 0.486972, -0.469402, 0.012494, 0.480747, 0.446531, 0.665385, -0.098485, -0.423298, -0.079718, -1.687334, -1.447112, -1.322700, -0.997247, 0.399774, -0.905479, -0.378163, 1.299228, -0.356264, 0.737516, -0.933618, -0.205438, -0.950022, -0.339033, 0.840308, -1.727320, 0.434424, 0.237736, -0.594150, -1.446058, 0.072130, -0.529493, 0.232676, 0.021852, 1.601779, -0.239356, -1.023497, 0.179276, 0.219997, 1.359188, 0.835111, 0.356871, 1.463303, -1.188763],
    [-0.639752, -0.926576, -0.389810, -1.376686, 0.635151, -0.222223, -1.470806, -1.015579, 0.313514, 0.838127, 1.996731, 2.913862, 0.414409, -0.989538, -2.132046, 0.267711, -0.812941, -0.415357, -0.612097, -0.140791, 1.065980, 0.157049, -0.158635, -1.035654, -1.674683, -0.486308, -0.053783, 1.767930, 0.130275, 0.982740, -0.499296, -1.184944, -0.965117, -0.725226, 2.128470, -0.821387, 0.838489, -0.902927, 0.931573, 0.384951, -0.156638, -0.040763, -0.654788, 0.446072, -0.454983, -1.225606, -1.277938, 0.172588, 1.579091, 0.159992, -0.118638, 0.285826, 1.306002, 0.219383, -0.410927, 1.106289, 0.428756, 1.535756, 0.183234, -1.224469, -1.368159, 1.650928, 1.723666, -0.179519],
    [-0.383187, 1.461444, -1.107046, -0.894727, 0.643327, -0.394605, -0.005122, -0.163443, 0.337575, 1.407482, 0.090585, 0.643939, -2.050172, -0.048718, -0.843230, -1.218813, -0.878152, -0.334123, 0.915903, -1.326393, 0.030631, -0.484169, -0.327673, 1.002758, 0.538115, 1.337398, -0.154506, -0.695943, -0.223859, 0.242497, 0.176573, -1.084388, 0.090490, 0.228228, 2.517474, 1.876845, -0.853243, -0.287383, -1.463442, -0.590707, 0.315605, 1.205854, -0.729084, -0.654146, -2.147289, -0.162666, -1.062414, -0.529439, -0.876861, -0.094263, -1.757728, -1.467045, 2.129247, -1.287423, -1.096786, 1.836914, 2.905067, -1.171567, -0.368249, 0.341556, 1.728698, -0.986857, -0.245278, 0.777338],
    [0.434766, -0.376156, -0.133823, -1.374896, -0.238174, -0.266387, 0.232170, -0.555327, 0.471539, 1.012716, 0.155429, 0.351756, 0.053155, 0.000084, -0.721558, 0.316494, -0.097287, 2.093168, 1.573355, 0.385847, -0.763057, -1.112411, 1.191143, 0.262749, 0.480143, -1.744586, 0.927438, 0.454420, -1.110431, -0.471525, 0.263717, 0.052467, -0.292171, -0.103488, -0.251977, 0.152563, 1.471492, -2.566658, -0.236850, 0.176512, 0.295994, -0.371915, -1.756722, 0.327995, 1.727350, -1.533861, 0.863828, -0.328525, -0.061324, -1.052899, -0.334456, 1.300045, 0.582655, 1.732312, 1.177412, 0.439087, 1.743935, 0.438993, 0.827988, -0.296571, 0.066546, -0.697424, 0.989584, -1.178304],
    [0.782350, -0.190651, 1.171247, 0.750869, 1.820646, 0.730775, -1.572040, -0.066953, -1.172007, -0.518280, 1.511228, 0.637534, -0.698930, -1.013717, 0.032782, -1.216560, -0.671140, 0.312009, 1.155312, 0.608761, -2.291290, 0.304367, 0.072034, 0.413890, 1.616210, -2.063238, -0.591103, 0.590906, -1.581594, 1.475949, 0.368357, 0.846584, -0.570944, 0.813764, 1.068472, 0.232878, 0.234401, 0.270343, -0.863345, -0.147529, -0.152523, 0.383394, 0.999824, -1.058536, -0.125009, 1.481456, -0.743588, -0.822250, 0.202306, 0.844385, 0.011426, 1.328961, 0.856794, 0.841820, 0.554117, 2.327653, -0.205162, -2.003522, 1.604254, -0.457699, 0.107880, 1.309551, -1.602260, -1.251647],
    [-1.601278, -0.794136, 0.439637, 0.524188, 0.276274, -1.412766, -2.310103, 0.054354, -0.471776, 0.459386, 0.701954, 0.138241, 0.760133, 0.229211, 0.530065, -0.704673, -0.179611, 0.196776, 0.820528, -0.393741, 0.521167, -0.265839, -0.117542, 0.829519, -1.993060, -1.296472, -1.482185, -2.333616, -0.678264, 0.749434, -0.284884, 0.197790, 1.089217, 1.327686, -0.069138, 1.353586, 0.092127, -0.837398, -0.594400, -1.480537, -0.888134, -0.358017, 0.803585, 1.720770, -1.382182, 0.392827, -1.040544, 0.474697, -0.131087, -1.830906, 0.928297, -0.605001, -0.533900, -1.069752, -0.654283, 0.427890, -0.189244, 0.328662, 0.361922, 1.320662, -0.342786, -1.476858, 1.067222, -0.331488],
    [1.114592, 0.383377, -0.131138, 0.348776, 1.951013, 2.076981, 0.069381, 0.160191, 1.076240, -0.845661, 0.333070, -0.025863, 0.313908, -0.833369, -1.589567, -2.072983, -1.117384, -0.458675, -0.293192, 1.937231, 1.105993, -0.962091, 0.347708, -0.407078, -0.284364, 0.185326, 0.619171, -0.339258, 1.063852, -1.141938, 0.006339, 2.597674, 0.223080, 1.433215, 0.091520, 0.580777, -0.056783, -0.170408, -0.779482, 0.430301, -0.851537, 0.665585, 1.085287, 0.366531, -0.286249, 0.453966, -0.308673, 0.935547, -1.831406, -0.335607, -1.990812, -1.495061, 1.363862, 0.895185, -0.719480, -1.502503, -2.964529, -0.543496, 2.420415, 0.434884, -0.559572, 0.465080, -1.560958, -0.297323],
]

_RP_SIG_SQL = """(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [0.304717, -1.039984, 0.750451, 0.940565, -1.951035, -1.302180, 0.127840, -0.316243, -0.016801, -0.853044, 0.879398, 0.777792, 0.066031, 1.127241, 0.467509, -0.859292, 0.368751, -0.958883, 0.878450, -0.049926, -0.184862, -0.680930, 1.222541, -0.154529, -0.428328, -0.352134, 0.532309, 0.365444, 0.412733, 0.430821, 2.141648, -0.406415, -0.512243, -0.813773, 0.615979, 1.128972, -0.113947, -0.840156, -0.824481, 0.650593, 0.743254, 0.543154, -0.665510, 0.232161, 0.116686, 0.218689, 0.871429, 0.223596, 0.678914, 0.067579, 0.289119, 0.631288, -1.457156, -0.319671, -0.470373, -0.638878, -0.275142, 1.494941, -0.865831, 0.968278, -1.682870, -0.334885, 0.162753, 0.586222]::DOUBLE[]) > 0 THEN 1 ELSE 0 END)
                 + (CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [0.711227, 0.793347, -0.348725, -0.462352, 0.857976, -0.191304, -1.275686, -1.133287, -0.919452, 0.497161, 0.142426, 0.690485, -0.427253, 0.158540, 0.625590, -0.309347, 0.456775, -0.661926, -0.363054, -0.381738, -1.195840, 0.486972, -0.469402, 0.012494, 0.480747, 0.446531, 0.665385, -0.098485, -0.423298, -0.079718, -1.687334, -1.447112, -1.322700, -0.997247, 0.399774, -0.905479, -0.378163, 1.299228, -0.356264, 0.737516, -0.933618, -0.205438, -0.950022, -0.339033, 0.840308, -1.727320, 0.434424, 0.237736, -0.594150, -1.446058, 0.072130, -0.529493, 0.232676, 0.021852, 1.601779, -0.239356, -1.023497, 0.179276, 0.219997, 1.359188, 0.835111, 0.356871, 1.463303, -1.188763]::DOUBLE[]) > 0 THEN 2 ELSE 0 END)
                 + (CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [-0.639752, -0.926576, -0.389810, -1.376686, 0.635151, -0.222223, -1.470806, -1.015579, 0.313514, 0.838127, 1.996731, 2.913862, 0.414409, -0.989538, -2.132046, 0.267711, -0.812941, -0.415357, -0.612097, -0.140791, 1.065980, 0.157049, -0.158635, -1.035654, -1.674683, -0.486308, -0.053783, 1.767930, 0.130275, 0.982740, -0.499296, -1.184944, -0.965117, -0.725226, 2.128470, -0.821387, 0.838489, -0.902927, 0.931573, 0.384951, -0.156638, -0.040763, -0.654788, 0.446072, -0.454983, -1.225606, -1.277938, 0.172588, 1.579091, 0.159992, -0.118638, 0.285826, 1.306002, 0.219383, -0.410927, 1.106289, 0.428756, 1.535756, 0.183234, -1.224469, -1.368159, 1.650928, 1.723666, -0.179519]::DOUBLE[]) > 0 THEN 4 ELSE 0 END)
                 + (CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [-0.383187, 1.461444, -1.107046, -0.894727, 0.643327, -0.394605, -0.005122, -0.163443, 0.337575, 1.407482, 0.090585, 0.643939, -2.050172, -0.048718, -0.843230, -1.218813, -0.878152, -0.334123, 0.915903, -1.326393, 0.030631, -0.484169, -0.327673, 1.002758, 0.538115, 1.337398, -0.154506, -0.695943, -0.223859, 0.242497, 0.176573, -1.084388, 0.090490, 0.228228, 2.517474, 1.876845, -0.853243, -0.287383, -1.463442, -0.590707, 0.315605, 1.205854, -0.729084, -0.654146, -2.147289, -0.162666, -1.062414, -0.529439, -0.876861, -0.094263, -1.757728, -1.467045, 2.129247, -1.287423, -1.096786, 1.836914, 2.905067, -1.171567, -0.368249, 0.341556, 1.728698, -0.986857, -0.245278, 0.777338]::DOUBLE[]) > 0 THEN 8 ELSE 0 END)
                 + (CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [0.434766, -0.376156, -0.133823, -1.374896, -0.238174, -0.266387, 0.232170, -0.555327, 0.471539, 1.012716, 0.155429, 0.351756, 0.053155, 0.000084, -0.721558, 0.316494, -0.097287, 2.093168, 1.573355, 0.385847, -0.763057, -1.112411, 1.191143, 0.262749, 0.480143, -1.744586, 0.927438, 0.454420, -1.110431, -0.471525, 0.263717, 0.052467, -0.292171, -0.103488, -0.251977, 0.152563, 1.471492, -2.566658, -0.236850, 0.176512, 0.295994, -0.371915, -1.756722, 0.327995, 1.727350, -1.533861, 0.863828, -0.328525, -0.061324, -1.052899, -0.334456, 1.300045, 0.582655, 1.732312, 1.177412, 0.439087, 1.743935, 0.438993, 0.827988, -0.296571, 0.066546, -0.697424, 0.989584, -1.178304]::DOUBLE[]) > 0 THEN 16 ELSE 0 END)
                 + (CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [0.782350, -0.190651, 1.171247, 0.750869, 1.820646, 0.730775, -1.572040, -0.066953, -1.172007, -0.518280, 1.511228, 0.637534, -0.698930, -1.013717, 0.032782, -1.216560, -0.671140, 0.312009, 1.155312, 0.608761, -2.291290, 0.304367, 0.072034, 0.413890, 1.616210, -2.063238, -0.591103, 0.590906, -1.581594, 1.475949, 0.368357, 0.846584, -0.570944, 0.813764, 1.068472, 0.232878, 0.234401, 0.270343, -0.863345, -0.147529, -0.152523, 0.383394, 0.999824, -1.058536, -0.125009, 1.481456, -0.743588, -0.822250, 0.202306, 0.844385, 0.011426, 1.328961, 0.856794, 0.841820, 0.554117, 2.327653, -0.205162, -2.003522, 1.604254, -0.457699, 0.107880, 1.309551, -1.602260, -1.251647]::DOUBLE[]) > 0 THEN 32 ELSE 0 END)
                 + (CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [-1.601278, -0.794136, 0.439637, 0.524188, 0.276274, -1.412766, -2.310103, 0.054354, -0.471776, 0.459386, 0.701954, 0.138241, 0.760133, 0.229211, 0.530065, -0.704673, -0.179611, 0.196776, 0.820528, -0.393741, 0.521167, -0.265839, -0.117542, 0.829519, -1.993060, -1.296472, -1.482185, -2.333616, -0.678264, 0.749434, -0.284884, 0.197790, 1.089217, 1.327686, -0.069138, 1.353586, 0.092127, -0.837398, -0.594400, -1.480537, -0.888134, -0.358017, 0.803585, 1.720770, -1.382182, 0.392827, -1.040544, 0.474697, -0.131087, -1.830906, 0.928297, -0.605001, -0.533900, -1.069752, -0.654283, 0.427890, -0.189244, 0.328662, 0.361922, 1.320662, -0.342786, -1.476858, 1.067222, -0.331488]::DOUBLE[]) > 0 THEN 64 ELSE 0 END)
                 + (CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [1.114592, 0.383377, -0.131138, 0.348776, 1.951013, 2.076981, 0.069381, 0.160191, 1.076240, -0.845661, 0.333070, -0.025863, 0.313908, -0.833369, -1.589567, -2.072983, -1.117384, -0.458675, -0.293192, 1.937231, 1.105993, -0.962091, 0.347708, -0.407078, -0.284364, 0.185326, 0.619171, -0.339258, 1.063852, -1.141938, 0.006339, 2.597674, 0.223080, 1.433215, 0.091520, 0.580777, -0.056783, -0.170408, -0.779482, 0.430301, -0.851537, 0.665585, 1.085287, 0.366531, -0.286249, 0.453966, -0.308673, 0.935547, -1.831406, -0.335607, -1.990812, -1.495061, 1.363862, 0.895185, -0.719480, -1.502503, -2.964529, -0.543496, 2.420415, 0.434884, -0.559572, 0.465080, -1.560958, -0.297323]::DOUBLE[]) > 0 THEN 128 ELSE 0 END)"""


@register(
    "ann_rp_lsh_pairs",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   ({_RP_SIG_SQL}) AS bucket
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine_sim
        FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.3
    """,
    tags=("ann", "M3", "lsh", "dedup"),
)
def ann_rp_lsh_pairs(spark, sf_dir):
    """M3 without a block column: random-hyperplane LSH buckets bound
    the candidate pairs (near-dups agree on sign bits), exact cosine
    verifies — the unblocked-corpus scale path for embedding dedup."""
    emb = table(spark, sf_dir, "embeddings")
    return S.rp_lsh_pairs(emb, _RP_PLANES)


_SEARCH_QUERY_TEXT = "sample document text zero"


def _search_by_text_oracle() -> str:
    from ..operators.embeddings import md5_dim_sql

    return (
        _emb_oracle_cte()
        + f"""
        , q AS (
            SELECT d, {md5_dim_sql(f"'{_SEARCH_QUERY_TEXT}'", "d")} AS qx
            FROM dims
        ), sc AS (
            SELECT r.doc_id, r.lang,
                   sum(r.x * q.qx)
                     / (sqrt(sum(r.x * r.x)) * sqrt(sum(q.qx * q.qx))) AS cos
            FROM raw r
            JOIN q ON q.d = r.d
            JOIN documents dd ON dd.doc_id = r.doc_id
            WHERE dd.text LIKE '%the%'
            GROUP BY 1, 2
        )
        SELECT doc_id, lang, ROUND(cos, 4) AS cosine_sim
        FROM sc ORDER BY cosine_sim DESC, doc_id LIMIT 10
    """
    )


@register(
    "search_documents_by_text",
    oracle=_search_by_text_oracle(),
    tags=("ann", "M5", "query_texts", "oracle-replayable"),
)
def search_documents_by_text(spark, sf_dir):
    """M5 end-to-end, the ChromaDB query_texts surface
    (chromadb_client.py:194-306): encode the corpus AND a free-text
    query with the same encoder, apply a where_document-style contains
    filter, return top-10 documents by cosine. The encoder is the
    deterministic M4 mapInPandas stage; everything after it is the
    filtered brute-force scan."""
    from ..operators.embeddings import encode_documents

    docs = table(spark, sf_dir, "documents")
    encoded = encode_documents(docs, dim=_EMB_DIM, dtype="float64")
    qdf = values_dim(spark, [("q", _SEARCH_QUERY_TEXT)], "qid string, text string")
    qvec = list(encode_documents(qdf, dim=_EMB_DIM, dtype="float64").first()["embedding"])
    return S.brute_force_topk(
        encoded,
        qvec,
        k=10,
        id_col="doc_id",
        where=F.col("text").contains("the"),  # where_document $contains
        extra_cols=["lang"],
    )


@register(
    "ann_composite_filter_search",
    oracle="""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id, e.label,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4)
                   AS cosine_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
          AND (e.label IN (1, 3)
               OR (e.label >= 6 AND e.vec_id < 300))
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """,
    tags=("ann", "M5", "filtered", "chroma"),
)
def ann_composite_filter_search(spark, sf_dir):
    """M5 with Chroma's COMPOSITE metadata filters: the $and/$or/$in
    where-dict surface (chromadb_client.py:194-306) compiled to a
    boolean Column by functions.chroma_filter and fused into the
    similarity scan like any pushable predicate."""
    from ..functions.chroma_filter import where_to_column

    where = where_to_column(
        {
            "$or": [
                {"label": {"$in": [1, 3]}},
                {"$and": [{"label": {"$gte": 6}}, {"vec_id": {"$lt": 300}}]},
            ]
        }
    )
    qv = _query_vec(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(
        emb, qv, k=10, where=where & (F.col("vec_id") != 0), extra_cols=["label"]
    )


@register(
    "search_where_document_composite",
    oracle="""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE (contains(text, 'the') AND NOT contains(text, 'zero'))
           OR contains(text, 'sample document text one')
        ORDER BY doc_id
    """,
    tags=("search", "M5", "chroma", "where_document"),
)
def search_where_document_composite(spark, sf_dir):
    """Chroma's where_document composition ($and/$or/$contains/
    $not_contains, chromadb_client.py:221-259) compiled by
    functions.chroma_filter.where_document_to_column and applied as a
    plain scan predicate over the documents table."""
    from ..functions.chroma_filter import where_document_to_column

    wd = where_document_to_column(
        {
            "$or": [
                {"$and": [{"$contains": "the"}, {"$not_contains": "zero"}]},
                {"$contains": "sample document text one"},
            ]
        }
    )
    return (
        table(spark, sf_dir, "documents")
        .filter(wd)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "ann_hard_negatives",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                   ({_RP_SIG_SQL}) AS bucket
            FROM embeddings
        ), pairs AS (
            SELECT a.vec_id, b.vec_id AS neg_id,
                   ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
            FROM sig a
            JOIN sig b ON a.bucket = b.bucket
                      AND a.vec_id <> b.vec_id AND a.label <> b.label
        )
        SELECT vec_id, CAST(neg_id AS BIGINT) AS hard_neg_id,
               sim AS cosine_sim
        FROM pairs
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, neg_id) = 1
    """,
    tags=("ann", "contrastive", "llm-prep", "lsh"),
)
def ann_hard_negatives(spark, sf_dir):
    """Contrastive-pair mining: each vector's most-similar DIFFERENT-
    label neighbor among its RP-LSH bucket mates — the hard negative a
    contrastive trainer pairs with each anchor. Bucket join bounds the
    pair space; the per-anchor argmax is a partial-aggregating
    max(struct), not a global window."""
    emb = table(spark, sf_dir, "embeddings")
    return S.hard_negatives(emb, _RP_PLANES)


@register(
    "ann_rp_multiprobe_pairs",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   ({_RP_SIG_SQL}) AS bucket
            FROM embeddings
        ), probes AS (
            SELECT vec_id, v,
                   unnest(list_prepend(bucket,
                       list_transform(range(8),
                                      b -> xor(bucket, 1 << CAST(b AS INTEGER)))))
                       AS pbucket
            FROM sig
        )
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine_sim
        FROM probes a JOIN sig b ON a.pbucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.3
    """,
    tags=("ann", "M3", "lsh", "multiprobe"),
)
def ann_rp_multiprobe_pairs(spark, sf_dir):
    """Multi-probe RP-LSH near-dup pairs: probe the home bucket plus all
    1-bit-flip neighbors (recall lever without extra hash tables), then
    exact-cosine verify. Strict superset of ann_rp_lsh_pairs'
    candidates at ~9x probe fan on one side of the same equi-join."""
    emb = table(spark, sf_dir, "embeddings")
    return S.rp_lsh_multiprobe_pairs(emb, _RP_PLANES)


def _pq_train_ctes(m: int, sub_dim: int, k: int, iters: int) -> str:
    """Subspace m's PQ training chain as comma-joined CTEs, shared by the
    PQ oracles: p{m} (the sub-vector slice), c{m}_0 (the k smallest-id
    points) and, per iteration t, a{m}_t (nearest centroid, ties to the
    smallest cid), s{m}_t (the assignment) and c{m}_t (means rounded
    to 6)."""
    cols = ", ".join(
        f"CAST(embedding[{m * sub_dim + j + 1}] AS DOUBLE) AS e{j}"
        for j in range(sub_dim)
    )
    parts = [f"p{m} AS (SELECT vec_id AS pid, {cols} FROM embeddings)"]
    init_cols = ", ".join(f"e{j} AS c{j}" for j in range(sub_dim))
    parts.append(
        f", c{m}_0 AS (SELECT ROW_NUMBER() OVER (ORDER BY pid) - 1 AS cid,"
        f" {init_cols} FROM (SELECT * FROM p{m} ORDER BY pid LIMIT {k}))"
    )
    dist = " + ".join(
        f"(p.e{j} - c.c{j}) * (p.e{j} - c.c{j})" for j in range(sub_dim)
    )
    pcols = ", ".join(f"p.e{j}" for j in range(sub_dim))
    scols = ", ".join(f"e{j}" for j in range(sub_dim))
    avgs = ", ".join(f"ROUND(AVG(e{j}), 6) AS c{j}" for j in range(sub_dim))
    for t in range(1, iters + 1):
        parts.append(
            f", a{m}_{t} AS (SELECT p.pid, {pcols}, c.cid,"
            f" ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY {dist}, c.cid)"
            f" AS rn FROM p{m} p CROSS JOIN c{m}_{t - 1} c)"
        )
        parts.append(
            f", s{m}_{t} AS (SELECT pid, {scols}, cid FROM a{m}_{t} WHERE rn = 1)"
        )
        parts.append(
            f", c{m}_{t} AS (SELECT cid, {avgs} FROM s{m}_{t} GROUP BY cid)"
        )
    return "".join(parts)


def _pq_oracle() -> str:
    """Generated relational replay of the PQ codebook training: per
    subspace, the d-dim Lloyd chain (smallest-id init, nearest centroid
    with ties to the smallest cid, means rounded to 6 per iteration,
    fixed iters), then per-code stats measured against the FINAL
    rounded centroids — the same literals the engine measures against."""
    n_sub, sub_dim, k, iters = PQ_SUBSPACES, PQ_SUB_DIM, PQ_CODES, PQ_ITERS
    parts = ["WITH "]
    finals = []
    for m in range(n_sub):
        lead = "" if m == 0 else ", "
        parts.append(lead + _pq_train_ctes(m, sub_dim, k, iters))
        norm = " + ".join(f"c.c{j} * c.c{j}" for j in range(sub_dim))
        err = " + ".join(
            f"(s.e{j} - c.c{j}) * (s.e{j} - c.c{j})" for j in range(sub_dim)
        )
        finals.append(
            f"SELECT CAST({m} AS BIGINT) AS subspace, CAST(s.cid AS BIGINT)"
            f" AS code, CAST(COUNT(*) AS BIGINT) AS size,"
            f" ROUND(SQRT({norm}), 4) AS centroid_norm,"
            f" ROUND(AVG({err}), 4) AS avg_sq_err"
            f" FROM s{m}_{iters} s JOIN c{m}_{iters} c ON s.cid = c.cid"
            f" GROUP BY s.cid, {', '.join(f'c.c{j}' for j in range(sub_dim))}"
        )
    parts.append(" " + " UNION ALL ".join(finals))
    return "".join(parts)


def _pq_projection(emb, dim: int):
    """The ONE flat projection the whole PQ family computes against:
    (pid, x0..x{dim-1}), localCheckpointed so training iterations,
    encoding, and the query-row lookup all reuse a single materialized
    scan of the embeddings parquet.

    Built as selectExpr strings, as the k-means operator is: 64
    Column-object chains cost ~0.9-2.0 s of driver round trips per
    call; one parsed projection costs ~0.1-0.4 s. `embedding[i]` in
    Spark SQL is the same 0-based GetArrayItem the Column getItem
    emitted — the analyzed plan is identical."""
    return emb.selectExpr(
        "vec_id AS pid",
        *[f"CAST(embedding[{i}] AS DOUBLE) AS x{i}" for i in range(dim)],
    ).localCheckpoint(eager=False)


@register(
    "emb_pq_codebook",
    oracle=_pq_oracle(),
    tags=("similarity", "ann", "pq", "quantization", "training-data"),
)
def emb_pq_codebook(spark, sf_dir):
    """Product-quantization codebook training (Jegou et al. 2011) — the
    compression step behind IVF-PQ ANN indexes: split each 64-dim
    embedding into 4 x 16-dim sub-vectors and train an independent
    k=4-codeword codebook per subspace with the deterministic Lloyd
    kernel (smallest-id init, rounded-mean updates, fixed 4
    iterations). Emits per-(subspace, code): member count, the final
    centroid's L2 norm, and the average squared reconstruction error —
    measured against the ROUNDED final centroids, so both engines
    measure against the same literals. A 64-dim float32 vector
    compresses to 4 bytes (one code per subspace) — at 100 TB of
    vectors the difference between an index that fits executor memory
    and one that cannot.

    Scale shape: each subspace's training is the lloyd_kmeans_nd
    contract — vectors never leave the cluster, one k-literal
    broadcast compare + one k-key groupBy per iteration, k rows on the
    control plane. The 4 subspaces train on SLICES of one shared
    localCheckpointed 64-dim projection (precheckpointed=True skips
    the per-slice checkpoint), so the embeddings parquet is scanned
    once, not once per subspace."""
    from ..operators.clustering import lloyd_kmeans_nd

    emb = table(spark, sf_dir, "embeddings")
    n_sub, sub_dim, k, iters = PQ_SUBSPACES, PQ_SUB_DIM, PQ_CODES, PQ_ITERS
    pts64 = _pq_projection(emb, n_sub * sub_dim)
    out = None
    for m in range(n_sub):
        dims = [f"e{j}" for j in range(sub_dim)]
        # slice rename + err/norm sums as parsed SQL strings (Column
        # objects cost ~0.2-0.3 s of round trips per subspace):
        # " + ".join is the same left-associative fold as a Python
        # sum(), so every value is bit-identical
        pts = pts64.selectExpr(
            "pid",
            *[f"x{m * sub_dim + j} AS e{j}" for j in range(sub_dim)],
        )
        assigned, centroids = lloyd_kmeans_nd(
            pts, dims, k=k, iters=iters, id_col="pid", precheckpointed=True
        )
        cent_rows = [(cid, *vec) for cid, vec in centroids]
        cent_df = spark.createDataFrame(
            cent_rows,
            "cluster_id int, " + ", ".join(f"c{j} double" for j in range(sub_dim)),
        )
        err = F.expr(
            " + ".join(
                f"(e{j} - c{j}) * (e{j} - c{j})" for j in range(sub_dim)
            )
        )
        norm = F.expr(" + ".join(f"c{j} * c{j}" for j in range(sub_dim)))
        stats = (
            assigned.join(F.broadcast(cent_df), "cluster_id")
            .groupBy("cluster_id", *[f"c{j}" for j in range(sub_dim)])
            .agg(
                F.count("*").cast("long").alias("size"),
                F.round(F.avg(err), 4).alias("avg_sq_err"),
            )
            .select(
                F.lit(m).cast("long").alias("subspace"),
                F.col("cluster_id").cast("long").alias("code"),
                "size",
                F.round(F.sqrt(norm), 4).alias("centroid_norm"),
                "avg_sq_err",
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out


def _pq_adc_oracle() -> str:
    """ADC search replay: the PQ training chains (_pq_train_ctes, as in
    _pq_oracle), a FINAL-centroid assignment per subspace
    (codes), the query vector's per-subspace distance table over the
    same rounded centroids, and the top-k by summed table lookups."""
    n_sub, sub_dim, k, iters = PQ_SUBSPACES, PQ_SUB_DIM, PQ_CODES, PQ_ITERS
    parts = ["WITH "]
    for m in range(n_sub):
        lead = "" if m == 0 else ", "
        parts.append(lead + _pq_train_ctes(m, sub_dim, k, iters))
        # codes vs FINAL rounded centroids (not the last training assign)
        dist = " + ".join(
            f"(p.e{j} - c.c{j}) * (p.e{j} - c.c{j})" for j in range(sub_dim)
        )
        parts.append(
            f", f{m} AS (SELECT pid, cid AS code FROM ("
            f"SELECT p.pid, c.cid, ROW_NUMBER() OVER (PARTITION BY p.pid"
            f" ORDER BY {dist}, c.cid) AS rn"
            f" FROM p{m} p CROSS JOIN c{m}_{iters} c) WHERE rn = 1)"
        )
        # query = vec_id 0; per-subspace lookup table over the same
        # rounded centroids
        qdist = " + ".join(
            f"(q.e{j} - c.c{j}) * (q.e{j} - c.c{j})" for j in range(sub_dim)
        )
        parts.append(
            f", t{m} AS (SELECT c.cid, {qdist} AS d"
            f" FROM (SELECT * FROM p{m} WHERE pid = 0) q"
            f" CROSS JOIN c{m}_{iters} c)"
        )
    joins = " ".join(
        f"JOIN f{m} ON f{m}.pid = f0.pid JOIN t{m} ON t{m}.cid = f{m}.code"
        for m in range(1, n_sub)
    )
    adc = " + ".join(f"t{m}.d" for m in range(n_sub))
    parts.append(
        f" SELECT f0.pid AS vec_id, ROUND({adc}, 4) AS adc_dist"
        f" FROM f0 JOIN t0 ON t0.cid = f0.code {joins}"
        f" WHERE f0.pid <> 0"
        f" ORDER BY adc_dist, vec_id LIMIT {PQ_TOPK}"
    )
    return "".join(parts)


@register(
    "emb_pq_adc_search",
    oracle=_pq_adc_oracle(),
    tags=("similarity", "ann", "pq", "adc", "training-data"),
)
def emb_pq_adc_search(spark, sf_dir):
    """Asymmetric distance computation over the PQ codes — the search
    half of IVF-PQ (Jegou et al. 2011): every corpus vector is encoded
    to 4 codes against the emb_pq_codebook centroids; the query vector
    (vec_id 0) precomputes ONE 4x4 lookup table of squared distances
    to every centroid; a candidate's approximate distance is the sum
    of 4 table lookups — no original vector is touched at query time.
    Returns the top-10 nearest by ADC distance (full tie-break).

    Scale shape (no join of per-subspace code frames on pid, which
    would cost three corpus-sized shuffles): every centroid is a
    rounded LITERAL after training, so the per-subspace code (argmin
    over 4 literal distances) AND its ADC table lookup are computable
    in ONE map-side projection over a single scan of the shared
    checkpointed projection — zero joins, zero shuffles; the plan is
    scan -> project -> filter -> TakeOrderedAndProject. The query row
    (vec_id 0) is collected ONCE (guarded: if absent, the result is the
    same empty frame the SQL oracle degrades to). At 100 TB the codes
    table is 4 bytes/vector — the index fits where the float32 corpus
    cannot — and both sides compute against the same ROUNDED centroid
    literals, so the oracle replays the entire
    train->encode->table->search chain."""
    from ..operators.clustering import lloyd_kmeans_nd

    emb = table(spark, sf_dir, "embeddings")
    n_sub, sub_dim, k, iters = PQ_SUBSPACES, PQ_SUB_DIM, PQ_CODES, PQ_ITERS
    dims = [f"e{j}" for j in range(sub_dim)]
    pts64 = _pq_projection(emb, n_sub * sub_dim)

    # one guarded collect for the query vector (not [0]-indexed blind:
    # a missing vec_id 0 must degrade to the oracle's empty result,
    # not an engine-side IndexError)
    qrows = pts64.filter(F.col("pid") == 0).limit(1).collect()
    if not qrows:
        return spark.createDataFrame([], "vec_id long, adc_dist double")
    qvec = [float(qrows[0][f"x{i}"]) for i in range(n_sub * sub_dim)]

    # Expression build as selectExpr SQL strings: Column-object
    # construction of the 4 x 4 x 16-term distance expressions +
    # when-chains costs ~0.7-0.8 s of driver round trips PER SUBSPACE
    # (~3 s of the query's ~12 s warm time). CAST('<repr>' AS DOUBLE)
    # literals fold to the same doubles F.lit produces; " + ".join is
    # the same left-associative fold as the Python sum(); the CASE
    # chain in ascending-cid order keeps ties-to-the-smallest-code.
    # Values are bit-identical (checked by the oracle gates at three
    # SFs).
    d_exprs: list[str] = []
    lut_exprs: list[str] = []
    for m in range(n_sub):
        sub = pts64.selectExpr(
            "pid",
            *[f"x{m * sub_dim + j} AS e{j}" for j in range(sub_dim)],
        )
        _, centroids = lloyd_kmeans_nd(
            sub, dims, k=k, iters=iters, id_col="pid", precheckpointed=True
        )
        # squared distance of THIS row's m-th sub-vector to each final
        # rounded centroid — pure literal arithmetic over the shared
        # projection's columns, no intermediate frame
        for cid, vec in centroids:
            d_exprs.append(
                " + ".join(
                    f"(x{m * sub_dim + j} - CAST('{v!r}' AS DOUBLE))"
                    f" * (x{m * sub_dim + j} - CAST('{v!r}' AS DOUBLE))"
                    for j, v in enumerate(vec)
                )
                + f" AS __d{m}_{cid}"
            )
        # the query's 4-entry distance table for this subspace,
        # computed driver-side against the SAME rounded literals
        table_m = {
            cid: sum(
                (qvec[m * sub_dim + j] - v) ** 2 for j, v in enumerate(vec)
            )
            for cid, vec in centroids
        }
        # argmin -> table lookup fused into one CASE (ascending cid
        # order = ties to the smallest code, the oracle's contract)
        least = (
            "least(" + ", ".join(f"__d{m}_{cid}" for cid, _ in centroids) + ")"
        )
        lut_exprs.append(
            "CASE "
            + " ".join(
                f"WHEN __d{m}_{cid} = {least} THEN"
                f" CAST('{table_m[cid]!r}' AS DOUBLE)"
                for cid, _ in centroids  # centroids are ascending-cid
            )
            + f" END AS __lut{m}"
        )

    adc = " + ".join(f"__lut{m}" for m in range(n_sub))
    return (
        pts64.filter(F.col("pid") != 0)
        .selectExpr("pid", *d_exprs)
        .selectExpr("pid", *lut_exprs)
        .selectExpr("pid AS vec_id", f"ROUND({adc}, 4) AS adc_dist")
        .orderBy("adc_dist", "vec_id")
        .limit(PQ_TOPK)
    )
