"""Structural checks for similarity search."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.operators import similarity as S
from bigdatanycdiseasesurveillance_spark.tables import table


def _qvec(spark, sf_dir, vid=0):
    row = (
        table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == vid).first()
    )
    return list(row["embedding"]), row["label"]


def test_ivf_nprobe_all_equals_brute_force(spark, sf_dir):
    """With nprobe = n_cells, IVF must return exactly the brute-force
    top-k (same scan, just partitioned)."""
    emb = table(spark, sf_dir, "embeddings")
    qv, _ = _qvec(spark, sf_dir)
    n_cells = emb.select("label").distinct().count()
    brute = S.brute_force_topk(emb, qv, k=10).collect()
    ivf = S.ivf_search(emb, qv, nprobe=n_cells).collect()
    assert [r["vec_id"] for r in brute] == [r["vec_id"] for r in ivf]


def test_ivf_subset_of_probed_cells(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(S, "IVF_TOPK", 5)
    emb = table(spark, sf_dir, "embeddings")
    qv, _ = _qvec(spark, sf_dir)
    got = S.ivf_search(emb, qv, nprobe=1).collect()
    assert len(got) == 5
    labels = {
        r["label"]
        for r in emb.filter(
            F.col("vec_id").isin([x["vec_id"] for x in got])
        ).collect()
    }
    assert len(labels) == 1  # nprobe=1 -> all hits from one cell


def test_ivf_build_artifact_roundtrip(spark, sf_dir, tmp_path):
    """ivf_build persists the centroid table; searching with the
    persisted artifact must equal the inline-derived search exactly."""
    emb = table(spark, sf_dir, "embeddings")
    qv, _ = _qvec(spark, sf_dir)
    cents = S.ivf_build(emb, path=str(tmp_path / "ivf_centroids"))
    with_artifact = S.ivf_search(emb, qv, nprobe=2, centroids=cents).collect()
    inline = S.ivf_search(emb, qv, nprobe=2).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in with_artifact] == [
        (r["vec_id"], r["cosine_sim"]) for r in inline
    ]


def test_knn_rank_contract(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    out = S.knn_per_block(emb)
    per = out.groupBy("vec_id").count().agg(F.max("count")).first()[0]
    assert per <= 3
    assert out.filter(F.col("vec_id") == F.col("neighbor_id")).count() == 0


def test_knn_gemm_equals_dataframe_variant(spark, sf_dir):
    """The GEMM (applyInPandas) and pure-DataFrame knn formulations must
    produce identical top-k — same rounding, same tie-breaks."""
    from bigdatanycdiseasesurveillance_spark.operators.similarity import (
        knn_per_block,
        knn_per_block_gemm,
    )
    from bigdatanycdiseasesurveillance_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    cols = ["vec_id", "neighbor_id", "cosine_sim", "rank"]
    a = sorted(map(tuple, knn_per_block(emb).select(cols).collect()))
    b = sorted(map(tuple, knn_per_block_gemm(emb).select(cols).collect()))
    assert a == b


def test_search_by_text_deterministic(spark, sf_dir):
    """query_texts search: same query text -> identical top-k across
    runs; the contains-filter restricts candidates."""
    from bigdatanycdiseasesurveillance_spark.registry import all_specs

    fn = all_specs()["search_documents_by_text"].fn
    a = [tuple(r) for r in fn(spark, sf_dir).collect()]
    b = [tuple(r) for r in fn(spark, sf_dir).collect()]
    assert a == b
    assert 0 < len(a) <= 10
    from bigdatanycdiseasesurveillance_spark.tables import table

    docs = {r["doc_id"]: r["text"] for r in table(spark, sf_dir, "documents").collect()}
    assert all("the" in docs[row[0]] for row in a)


def test_hard_negatives_are_cross_label_bucket_mates(spark, sf_dir):
    """Each mined pair must be cross-label, and brute-force checking one
    anchor's bucket reproduces its chosen negative."""
    from bigdatanycdiseasesurveillance_spark.operators.similarity import (
        hard_negatives,
        rp_signature,
    )
    from bigdatanycdiseasesurveillance_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    out = hard_negatives(emb)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = out.collect()
    assert rows
    for r in rows:
        assert labels[r["vec_id"]] != labels[r["hard_neg_id"]]
    sig = emb.select("vec_id", "label", rp_signature().alias("b")).collect()
    buckets = {r["vec_id"]: r["b"] for r in sig}
    anchor = rows[0]
    assert buckets[anchor["vec_id"]] == buckets[anchor["hard_neg_id"]]


def test_multiprobe_recall_superset(spark, sf_dir):
    """Multi-probe candidates must strictly contain the single-probe
    pair set (probe distance 0 is among the probes)."""
    from bigdatanycdiseasesurveillance_spark.operators.similarity import (
        rp_lsh_multiprobe_pairs,
        rp_lsh_pairs,
    )
    from bigdatanycdiseasesurveillance_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    single = {
        (r["id_a"], r["id_b"])
        for r in rp_lsh_pairs(emb).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in rp_lsh_multiprobe_pairs(emb).collect()
    }
    assert single <= multi
    assert len(multi) >= len(single)
