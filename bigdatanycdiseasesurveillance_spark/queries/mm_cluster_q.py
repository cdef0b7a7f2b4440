"""Multimodal + clustering query corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import clustering as C
from ..operators import multimodal as MM
from ..registry import register
from ..tables import table


def _kmeans_assign_cte() -> str:
    """The lloyd_kmeans_2d replay as a CTE chain ending in
    s{KMEANS_ITERS} (pid, x, y, cid) — shared by the kmeans profile
    oracle and the SemDeDup oracle."""
    k, iters = C.KMEANS_K, C.KMEANS_ITERS
    parts = [
        """WITH pts AS (
            SELECT vec_id AS pid,
                   CAST(embedding[1] AS DOUBLE) AS x,
                   CAST(embedding[2] AS DOUBLE) AS y
            FROM embeddings
        ), c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY pid) - 1 AS cid, x AS cx, y AS cy
            FROM (SELECT pid, x, y FROM pts ORDER BY pid LIMIT {k})
        )""".format(k=k)
    ]
    for t in range(1, iters + 1):
        parts.append(
            """, a{t} AS (
            SELECT p.pid, p.x, p.y, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.pid
                       ORDER BY (p.x - c.cx) * (p.x - c.cx)
                              + (p.y - c.cy) * (p.y - c.cy), c.cid
                   ) AS rn
            FROM pts p CROSS JOIN c{p} c
        ), s{t} AS (
            SELECT pid, x, y, cid FROM a{t} WHERE rn = 1
        ), c{t} AS (
            SELECT cid, ROUND(AVG(x), 6) AS cx, ROUND(AVG(y), 6) AS cy
            FROM s{t} GROUP BY cid
        )""".format(t=t, p=t - 1)
        )
    return "".join(parts)


def _kmeans_oracle() -> str:
    """Replay lloyd_kmeans_2d exactly: deterministic smallest-id init,
    nearest-centroid assignment with ties to the smallest cluster id,
    per-iteration centroid means rounded to 6 decimals (so cross-engine
    float-sum drift cannot compound), fixed iteration count."""
    return _kmeans_assign_cte() + """
        SELECT CAST(cid AS BIGINT) AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS size,
               ROUND(AVG(x), 4) AS centroid_x,
               ROUND(AVG(y), 4) AS centroid_y
        FROM s{t} GROUP BY cid
        """.format(t=C.KMEANS_ITERS)


@register(
    "cluster_kmeans_profile",
    oracle=_kmeans_oracle(),
    tags=("cluster", "M8"),
)
def cluster_kmeans_profile(spark, sf_dir):
    """M8, oracle-backed: deterministic Lloyd k-means (k=5, 8 fixed
    iterations, smallest-id init) over the 2-D embedding projection —
    the reference clusters geographic coordinates
    (spatial_clustering.py:342-378). Per-cluster size + centroid.
    (Spark ML's KMeans is not used: its parallel init is not
    SQL-replayable.)"""
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    assigned = C.lloyd_kmeans_2d(pts)
    return (
        assigned.join(pts, "vec_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("size"),
            F.round(F.avg("x"), 4).alias("centroid_x"),
            F.round(F.avg("y"), 4).alias("centroid_y"),
        )
    )


_DBSCAN_PTS_PLAIN = """
            SELECT vec_id AS pid,
                   CAST(embedding[1] AS DOUBLE) AS x,
                   CAST(embedding[2] AS DOUBLE) AS y
            FROM embeddings
"""


def _dbscan_oracle(pts_sql: str) -> str:
    """DBSCAN over an arbitrary points CTE. Candidates come from the
    same eps-grid pruning the engine uses (9-neighbor-cell equi-join —
    a pair within eps always lands in adjacent cells, so pruning is
    lossless) with the exact distance filter after, so the edge set is
    IDENTICAL to the brute-force theta join but the oracle stays
    sf1-feasible (the brute n^2 join was the audit's oracle-timeout
    wall at ~400M distance evaluations). POWER() mirrors the Spark **2
    expression."""
    return """
        WITH RECURSIVE pts AS (
{pts}
        ), pc AS (
            SELECT pid, x, y,
                   CAST(FLOOR(x / 0.05) AS BIGINT) AS cx,
                   CAST(FLOOR(y / 0.05) AS BIGINT) AS cy
            FROM pts
        ), pn AS (
            SELECT pid, x, y, cx + dx.d AS jx, cy + dy.d AS jy
            FROM pc,
                 (SELECT unnest([-1, 0, 1]) AS d) dx,
                 (SELECT unnest([-1, 0, 1]) AS d) dy
        ), edges AS (
            SELECT a.pid, b.pid AS qid
            FROM pn a JOIN pc b ON b.cx = a.jx AND b.cy = a.jy
            WHERE POWER(a.x - b.x, 2) + POWER(a.y - b.y, 2) <= 0.05 * 0.05
        ), core AS (
            SELECT pid FROM edges GROUP BY pid HAVING COUNT(*) >= 4
        ), core_edges AS (
            SELECT e.pid, e.qid
            FROM edges e
            JOIN core c1 ON e.pid = c1.pid
            JOIN core c2 ON e.qid = c2.pid
            WHERE e.pid <> e.qid
        ), walk(node, comp) AS (
            SELECT pid, pid FROM core
            UNION
            SELECT ce.qid, w.comp
            FROM walk w JOIN core_edges ce ON ce.pid = w.node
            WHERE w.comp < ce.qid
        ), core_label AS (
            SELECT node AS pid, MIN(comp) AS cluster_id FROM walk GROUP BY node
        ), border AS (
            SELECT e.pid, MIN(cl.cluster_id) AS cluster_id
            FROM edges e JOIN core_label cl ON e.qid = cl.pid
            WHERE e.pid NOT IN (SELECT pid FROM core)
            GROUP BY e.pid
        ), assigned AS (
            SELECT pid, cluster_id FROM core_label
            UNION ALL SELECT pid, cluster_id FROM border
        )
        SELECT a.cluster_id,
               CAST(COUNT(*) AS BIGINT) AS size,
               ROUND(AVG(p.x), 4) AS centroid_x,
               ROUND(AVG(p.y), 4) AS centroid_y
        FROM assigned a JOIN pts p ON a.pid = p.pid
        GROUP BY a.cluster_id
    """.format(pts=pts_sql)


def _jittered_pts_sql() -> str:
    from ..operators.clustering import jitter_sql

    return """
            SELECT vec_id AS pid,
                   CAST(embedding[1] AS DOUBLE) + ({jx}) AS x,
                   CAST(embedding[2] AS DOUBLE) + ({jy}) AS y
            FROM embeddings
""".format(jx=jitter_sql("vec_id", seed=42), jy=jitter_sql("vec_id", seed=43))


@register(
    "cluster_dbscan_jittered",
    oracle=_dbscan_oracle(_jittered_pts_sql()),
    tags=("cluster", "M7", "M9"),
)
def cluster_dbscan_jittered(spark, sf_dir):
    """M9 + M7: the reference seeds numpy and jitters coordinates by
    uniform(-0.02, 0.02) before DBSCAN so same-borough records don't
    collapse onto one point (spatial_clustering.py:249-263). Engine
    form: an exact integer-LCG jitter (seeded_jitter) both engines
    replay bit-for-bit, feeding the same grid-DBSCAN path."""
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.selectExpr(
        "vec_id",
        f"CAST(embedding[0] AS DOUBLE) + ({C.seeded_jitter('vec_id', seed=42)}) AS x",
        f"CAST(embedding[1] AS DOUBLE) + ({C.seeded_jitter('vec_id', seed=43)}) AS y",
    )
    assigned = C.grid_dbscan(pts, eps=0.05, min_samples=4)
    return C.cluster_profiles(assigned, pts).orderBy(F.desc("size"), F.asc("cluster_id"))


@register(
    "cluster_grid_dbscan",
    oracle=_dbscan_oracle(_DBSCAN_PTS_PLAIN),
    tags=("cluster", "M7"),
)
def cluster_grid_dbscan(spark, sf_dir):
    """M7: grid-partitioned DBSCAN over a 2-D embedding projection
    (first two dims); per-cluster size + centroid profile."""
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    assigned = C.grid_dbscan(pts, eps=0.05, min_samples=4)
    return C.cluster_profiles(assigned, pts).orderBy(F.desc("size"), F.asc("cluster_id"))


@register(
    "mm_decode_pipeline",
    # The decode stage is the documented deterministic md5 stub (real
    # codecs absent in this container) — which makes it exactly
    # SQL-replayable: the oracle recomputes the stub's seed-derived
    # dimensions from md5(text) and replays the native resize/sample
    # math, so the whole pipeline is value-checked end-to-end.
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
                   strlen(text) AS n_bytes,
                   CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS seed
            FROM documents
        ), dims AS (
            SELECT media_type, n_bytes,
                   CASE WHEN media_type IN ('image', 'video')
                        THEN 64 + seed % 1024 ELSE 0 END AS width,
                   CASE WHEN media_type IN ('image', 'video')
                        THEN 64 + (seed >> 10) % 1024 ELSE 0 END AS height,
                   CASE WHEN media_type = 'image'
                        THEN 1 ELSE 24 + seed % 240 END AS n_frames
            FROM base
        ), planned AS (
            SELECT media_type, n_bytes,
                   FLOOR(width * LEAST(1.0, 256.0 / GREATEST(width, height, 1)))
                       AS target_w,
                   CASE WHEN media_type = 'video'
                        THEN (n_frames - 1) // 10 + 1 ELSE 0 END AS n_sampled
            FROM dims
        )
        SELECT media_type,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
               ROUND(AVG(target_w), 2) AS avg_target_w,
               CAST(SUM(n_sampled) AS BIGINT) AS total_sampled_frames
        FROM planned
        GROUP BY media_type
    """,
    tags=("multimodal",),
)
def mm_decode_pipeline(spark, sf_dir):
    """Multimodal plumbing end-to-end: binary payload column -> Arrow
    mapInPandas decode (deterministic stub) -> native resize planning +
    video frame sampling -> per-media-type rollup. The stub's
    md5-derived pseudo-metadata is replayed by the DuckDB oracle, so
    the mapInPandas plumbing (binary handling, batch shape, schema) is
    value-checked, not just rows-counted."""
    media = MM.attach_media(table(spark, sf_dir, "documents"))
    decoded = MM.frame_sample(MM.resize_plan(MM.decode_media(media)))
    return decoded.groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_assets"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.round(F.avg("target_w"), 2).alias("avg_target_w"),
        F.sum("n_sampled").cast("long").alias("total_sampled_frames"),
    )


@register(
    "mm_decode_real_headers",
    # Every field is a closed-form function of doc_id (the builder's
    # parameter derivation), so the oracle replays the ENTIRE real-codec
    # round trip: build valid PNG/WAV/JPEG bytes -> stdlib parse ->
    # metadata. A struct-layout/endianness/CRC/RIFF-size/marker-walk bug
    # on either side breaks parity. PNG n_bytes = 8 sig + 25 IHDR + 12
    # IEND = 45; WAV n_bytes = 44-byte canonical header +
    # frames*channels*2; JPEG n_bytes = 2 SOI + 18 APP0 + (10 + 3*ncomp)
    # SOF0 + 2 EOI = 32 + 3*ncomp.
    oracle="""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                    ELSE 'jpeg' END AS media_type,
               CASE doc_id % 3
                    WHEN 0 THEN 45
                    WHEN 1 THEN 44 + (1 + doc_id % 100) * (1 + doc_id % 2) * 2
                    ELSE 32 + 3 * (CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END)
                    END AS n_bytes,
               CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 16 WHEN 1 THEN 0
                    ELSE 1 + doc_id % 300 END AS width,
               CASE doc_id % 3 WHEN 0 THEN 1 + (doc_id // 16) % 16 WHEN 1 THEN 0
                    ELSE 1 + (doc_id // 3) % 200 END AS height,
               CASE doc_id % 3 WHEN 1 THEN 16 ELSE 8 END AS bit_depth,
               CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 1 + doc_id % 2
                    ELSE CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END
                    END AS channels,
               CASE doc_id % 3 WHEN 1 THEN 8000 + (doc_id % 4) * 4000
                    ELSE 0 END AS sample_rate,
               CASE doc_id % 3 WHEN 1 THEN 1 + doc_id % 100 ELSE 0
                    END AS n_frames,
               TRUE AS header_ok
        FROM documents
    """,
    tags=("multimodal", "real-codec"),
)
def mm_decode_real_headers(spark, sf_dir):
    """Real-codec twin of mm_decode_pipeline: REAL bytes through REAL
    stdlib parsers. Builds a valid header-only PNG (signature + IHDR +
    IEND), canonical WAV, or header-only JPEG (SOI + JFIF APP0 + SOF0 +
    EOI — the dominant web-crawl image format) per doc, then decodes
    with struct/zlib-CRC32 (PNG), the `wave` module + RIFF size check
    (WAV), and a marker-segment walk (JPEG) in an Arrow-batched
    mapInPandas — the production decode shape with the parser bodies
    swappable for PIL/soundfile. Closes the one Section 2.12 family
    whose tested kernel (md5 stub) differed entirely from the
    production one."""
    from ..operators import multimodal as MM

    media = MM.attach_real_media(table(spark, sf_dir, "documents"))
    return MM.decode_real_headers(media)


_SEMDEDUP_T = 0.35


def _semdedup_oracle() -> str:
    return _kmeans_assign_cte() + f"""
        , emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), sim_pairs AS (
            SELECT a.cid, a.pid AS id_a, b.pid AS id_b
            FROM s8 a JOIN s8 b ON a.cid = b.cid AND a.pid < b.pid
            JOIN emb ea ON ea.vec_id = a.pid
            JOIN emb eb ON eb.vec_id = b.pid
            WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 4)
                  >= {_SEMDEDUP_T}
        ), dropped AS (
            SELECT DISTINCT cid, id_b AS pid FROM sim_pairs
        )
        SELECT CAST(s.cid AS BIGINT) AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CASE WHEN d.pid IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN d.pid IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept
        FROM s8 s LEFT JOIN dropped d ON d.cid = s.cid AND d.pid = s.pid
        GROUP BY s.cid
    """


@register(
    "dedup_semdedup_profile",
    oracle=_semdedup_oracle(),
    tags=("dedup", "semdedup", "cluster", "M3", "M8", "composed", "llm-prep"),
    bench=True,
)
def dedup_semdedup_profile(spark, sf_dir):
    """SemDeDup (Abbas et al.'s cluster-then-dedup recipe, the
    published scale path for semantic dedup): k-means clusters bound
    the candidate space, then full-vector cosine pairs form ONLY
    within clusters, and a vector is dropped when a lower-id
    cluster-mate sits above the similarity threshold (keep-first —
    deterministic, no CC needed). Composes the two proven tiers
    (deterministic Lloyd k-means + blocked cosine pairs, both
    individually oracle-green) into the named pipeline; per-cluster
    kept/dropped counts. Scale: clustering is the global pass;
    pairwise work is per-cluster quadratic — the knob (k) that trades
    recall for cost, never corpus x corpus."""
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    assigned = C.lloyd_kmeans_2d(pts)
    from ..operators.dedup import embedding_cosine_pairs_gemm

    embc = emb.join(assigned, "vec_id")
    # per-cluster chunked-GEMM pairs kernel (each vector crosses the
    # wire once, pair work in BLAS, output-sized emission); the
    # zip_with/aggregate expression twin is its pinned verification
    # surface — tests/test_dedup.py asserts kernel equality
    pairs = embedding_cosine_pairs_gemm(
        embc, block_col="cluster_id", threshold=_SEMDEDUP_T
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct().withColumn(
        "is_dropped", F.lit(True)
    )
    return (
        assigned.join(dropped, "vec_id", "left")
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(F.when(F.col("is_dropped"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("is_dropped").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )
