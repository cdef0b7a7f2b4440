"""Invariant tests for the corpus-hygiene/export operators beyond
oracle parity: structural contracts and layout-independence (the
properties that must survive any repartitioning at 100 TB)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.registry import all_specs
from bigdatanycdiseasesurveillance_spark.tables import table

SPECS = all_specs()


def test_chunk_boilerplate_structure(spark, sf_dir):
    """Per doc: n_chunks = ceil(words/4); kept ≤ total; an untouched
    document's rebuild digest equals md5 of its original text (the
    chunk join round-trips single-spaced text exactly)."""
    out = {
        r["doc_id"]: r
        for r in SPECS["txt_chunk_boilerplate"].fn(spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(out) == len(docs)
    for d in docs:
        r = out[d["doc_id"]]
        words = d["text"].split(" ")
        assert r["n_chunks"] == math.ceil(len(words) / 4)
        assert 0 <= r["n_boiler"] <= r["n_chunks"]
        assert r["kept_words"] <= len(words)
        if r["n_boiler"] == 0:
            assert r["kept_words"] == len(words)
            assert (
                r["cleaned_md5"]
                == hashlib.md5(d["text"].encode()).hexdigest()
            )


def test_global_rank_covers_stride_multiples(spark, sf_dir):
    """Witness set = exactly the stride multiples of the full numbering,
    with distinct events."""
    rows = SPECS["win_global_rank_ranged"].fn(spark, sf_dir).collect()
    total = table(spark, sf_dir, "events").count()
    assert len(rows) == total // 500
    assert sorted(r["global_rank"] for r in rows) == [
        500 * i for i in range(1, total // 500 + 1)
    ]
    assert len({r["event_id"] for r in rows}) == len(rows)


def test_reservoir_layout_independence(spark, sf_dir):
    """The sampled set is a pure function of the data: identical ids_md5
    per group when the input is scanned at any parallelism (the property
    rand(seed)-based sampling lacks)."""
    from bigdatanycdiseasesurveillance_spark.operators.sampling import hash_deviate
    from pyspark.sql import Window

    base = SPECS["samp_group_reservoir"].fn(spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events").repartition(3)
    dev = ev.select(
        "event_type", "event_id", "value",
        hash_deviate(F.col("event_id"), "reservoir").alias("d"),
    )
    w = Window.partitionBy("event_type").orderBy("d", "event_id")
    keep = dev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20)
    redo = {
        r["event_type"]: r["ids_md5"]
        for r in keep.groupBy("event_type")
        .agg(
            F.md5(
                F.array_join(F.sort_array(F.collect_list("event_id")), ",")
            ).alias("ids_md5")
        )
        .collect()
    }
    for r in base:
        assert redo[r["event_type"]] == r["ids_md5"]
        assert r["n_sampled"] == 20


def test_shard_manifest_partitions_the_corpus(spark, sf_dir):
    """Shards partition the corpus exactly: doc counts and byte budgets
    sum to the table totals, every shard id in [0, 16)."""
    rows = SPECS["export_shard_manifest"].fn(spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents")
    total, chars = docs.agg(
        F.count("*"), F.sum("n_chars")
    ).first()
    assert sum(r["n_docs"] for r in rows) == total
    assert sum(r["total_chars"] for r in rows) == chars
    assert all(0 <= r["shard_id"] < 16 for r in rows)


def test_skyline_is_exact_pareto_frontier(spark, sf_dir):
    """The sweep rewrite returns exactly the dominance-definition
    frontier (brute-force check over the collected per-user points)."""
    pts = [
        (r["user_id"], r["n_events"], r["n_days"])
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
        )
        .collect()
    ]

    def dominated(u):
        return any(
            v[1] >= u[1] and v[2] >= u[2] and (v[1] > u[1] or v[2] > u[2])
            for v in pts
        )

    expect = {u[0] for u in pts if not dominated(u)}
    got = {
        r["user_id"]
        for r in SPECS["skyline_user_activity"].fn(spark, sf_dir).collect()
    }
    assert got == expect and got


def test_geohash_sql_matches_python_twin(spark, monkeypatch):
    """The generated closed-form geohash SQL must equal the Python twin
    (itself pinned to the canonical u4pruydqqvj test vector) across a
    lat/lon grid including cell-edge values."""
    from bigdatanycdiseasesurveillance_spark.functions import geohash
    from bigdatanycdiseasesurveillance_spark.functions.geohash import (
        geohash_py,
        geohash_stages,
    )
    from bigdatanycdiseasesurveillance_spark.tables import values_dim

    with monkeypatch.context() as m:
        m.setattr(geohash, "GEOHASH_PRECISION", 11)
        assert geohash_py(57.64911, 10.40744) == "u4pruydqqvj"
    pts = [
        (40.7484, -73.9857),
        (-90.0, -180.0),
        (89.999999, 179.999999),
        (0.0, 0.0),
        (40.60, -74.00),
        (-33.8688, 151.2093),
    ]
    cx, cy, value, chars = geohash_stages()
    df = (
        values_dim(
            spark, [(float(a), float(b)) for a, b in pts], "lat double, lon double"
        )
        .selectExpr("lat", "lon", f"{cx} AS gh_cx", f"{cy} AS gh_cy")
        .selectExpr("lat", "lon", f"{value} AS gh_v")
        .selectExpr("lat", "lon", f"{chars} AS gh")
    )
    got = {(r["lat"], r["lon"]): r["gh"] for r in df.collect()}
    for a, b in pts:
        assert got[(a, b)] == geohash_py(a, b), (a, b)


def test_semdedup_partitions_each_cluster(spark, sf_dir):
    """kept + dropped = cluster size, k clusters, totals cover the
    corpus — the SemDeDup profile is a partition of the vectors."""
    rows = SPECS["dedup_semdedup_profile"].fn(spark, sf_dir).collect()
    emb_n = table(spark, sf_dir, "embeddings").count()
    assert len(rows) == 5
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_vecs"]
    assert sum(r["n_vecs"] for r in rows) == emb_n


def test_quantile_normalize_probe_bounds(spark, sf_dir):
    """Every stratum's p0 probe maps to the global minimum and p100 to
    the global maximum (rank mapping sends rn=1 -> grank=1 and rn=n ->
    grank=N); p50 lies between them."""
    from pyspark.sql import functions as F2

    rows = SPECS["feat_quantile_normalize"].fn(spark, sf_dir).collect()
    lo, hi = (
        table(spark, sf_dir, "events")
        .agg(F2.min("value"), F2.max("value"))
        .first()
    )
    by = {}
    for r in rows:
        by.setdefault(r["event_type"], {})[r["probe"]] = r["normalized_value"]
    for probes in by.values():
        assert probes["p0"] == round(lo, 2)
        assert probes["p100"] == round(hi, 2)
        assert probes["p0"] <= probes["p50"] <= probes["p100"]


def test_calibration_bins_cover_corpus(spark, sf_dir):
    """Bin counts sum to the document count and confidences stay inside
    their bins ([bin/10, bin/10 + 0.1))."""
    rows = SPECS["eval_calibration_bins"].fn(spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r["n"] for r in rows) == n_docs
    for r in rows:
        lo = r["bin"] / 10.0
        assert lo <= r["mean_confidence"] <= lo + 0.1 + 1e-9, r
        assert 0.0 <= r["frac_relevant"] <= 1.0
