"""Clustering semantics on a fixture with known ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.operators import clustering as C


def _fixture(spark):
    """Two dense blobs + isolated noise points, eps=1.0, min_samples=3."""
    rows = []
    # blob A around (0,0): 5 points within eps of each other
    for i, (x, y) in enumerate([(0, 0), (0.3, 0), (0, 0.3), (0.3, 0.3), (0.15, 0.15)]):
        rows.append((i, float(x), float(y)))
    # blob B around (10,10)
    for i, (x, y) in enumerate([(10, 10), (10.4, 10), (10, 10.4), (10.4, 10.4)]):
        rows.append((100 + i, float(x), float(y)))
    # noise
    rows += [(200, 50.0, 50.0), (201, -50.0, 50.0)]
    return spark.createDataFrame(rows, "vec_id long, x double, y double")


def test_dbscan_finds_known_clusters(spark):
    out = {
        r["vec_id"]: r["cluster_id"]
        for r in C.grid_dbscan(_fixture(spark), eps=1.0, min_samples=3).collect()
    }
    blob_a = {out[i] for i in range(5)}
    blob_b = {out[100 + i] for i in range(4)}
    assert len(blob_a) == 1 and len(blob_b) == 1
    assert blob_a != blob_b
    assert out[200] == -1 and out[201] == -1


def test_dbscan_cross_cell_merge(spark):
    """A chain crossing grid-cell boundaries must collapse to ONE
    cluster (exercises the iterative min-label merge)."""
    pts = spark.createDataFrame(
        [(i, i * 0.9, 0.0) for i in range(10)], "vec_id long, x double, y double"
    )
    out = C.grid_dbscan(pts, eps=1.0, min_samples=2)
    ids = {r["cluster_id"] for r in out.collect()}
    assert ids == {0}


def test_cellgrid_conserves_points_and_partitions_cells(spark, sf_dir):
    """The cell-grid scale path must account for every point exactly
    once: cluster n_points + noise n_points == total purchase events,
    and the cell bounding boxes stay inside the jittered lattice."""
    from pyspark.sql import functions as F

    from bigdatanycdiseasesurveillance_spark.registry import all_specs

    out = all_specs()["cluster_geo_cellgrid"].fn(spark, sf_dir).collect()
    total = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r["n_points"] for r in out) == total
    assert any(r["cluster_id"] >= 0 for r in out)  # at least one cluster
    for r in out:
        assert r["n_cells"] >= 1
        assert r["min_cx"] <= r["max_cx"] and r["min_cy"] <= r["max_cy"]


def test_cellgrid_key_pack_accepts_negative_cy_and_guards_span(spark):
    """The packed cell key is injective iff the occupied cy SPAN stays
    under key_mult (negative cy is legal — geo callers floor longitudes
    below zero). In-span negative cells must cluster normally; a span
    >= key_mult must raise, never silently merge distinct cells."""
    import pytest

    ok = spark.createDataFrame(
        # a dense negative-cy blob + one far sparse cell to keep the
        # corpus-mean density below the blob's relative-density bar
        [(0, -7400, 100), (0, -7399, 10), (1, -7400, 10), (500, -7000, 1)],
        "cx long, cy long, w long",
    )
    got = {(r["cx"], r["cy"]): r["cid"] for r in C.cellgrid_assign(ok, key_mult=100000).collect()}
    assert len(got) == 4
    blob = {got[(0, -7400)], got[(0, -7399)], got[(1, -7400)]}
    assert len(blob) == 1 and blob != {-1}  # one cluster over the blob
    assert got[(500, -7000)] == -1  # far sparse cell is noise

    # (0, 0) and (-1, 100000) pack to the SAME key (0*M+0 == -1*M+M);
    # two dense blobs + a sparse far cell so core cells exist and the
    # key expression actually evaluates
    bad = spark.createDataFrame(
        [
            (0, 0, 100),
            (0, 1, 100),
            (-1, 100000, 100),
            (-1, 100001, 100),
            (50, 500, 1),
        ],
        "cx long, cy long, w long",
    )
    with pytest.raises(Exception, match="cy span|would collide"):
        C.cellgrid_assign(bad, key_mult=100000).collect()


def test_round6_spark_matches_spark_round(spark):
    """_round6_spark replicates java.math.BigDecimal.valueOf(x)
    .setScale(6, HALF_UP) — the shortest-decimal-repr rounding Spark's
    codegen runs — including the cases where the exact binary expansion
    would round the other way (0.1234565 is stored below its shortest
    repr)."""
    vals = [
        0.1234565,
        -0.1234565,
        1.0000005,
        2.5e-7,
        -2.5e-7,
        0.0,
        3.14159265358979,
        123456.7891011,
        1e-12,
        -7.7777775,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        F.col("v"), F.round(F.col("v"), 6).alias("r")
    )
    got = {r["v"]: r["r"] for r in df.collect()}
    for v in vals:
        assert C._round6_spark(v) == got[v], v


def test_lloyd_kmeans_nd_known_clusters(spark):
    """Two well-separated 4-d blobs, k=2: every point must land with
    its blob and the final centroids must be the blob means."""
    from bigdatanycdiseasesurveillance_spark.operators.clustering import (
        lloyd_kmeans_nd,
    )

    blob_a = [(i, 0.0 + i * 0.01, 0.0, 0.0, 0.0) for i in range(4)]
    blob_b = [(10 + i, 5.0 + i * 0.01, 5.0, 5.0, 5.0) for i in range(4)]
    pts = spark.createDataFrame(
        blob_a + blob_b, "pid long, e0 double, e1 double, e2 double, e3 double"
    )
    assigned, centroids = lloyd_kmeans_nd(
        pts, ["e0", "e1", "e2", "e3"], k=2, iters=3, id_col="pid"
    )
    got = {r["pid"]: r["cluster_id"] for r in assigned.collect()}
    a_labels = {got[i] for i in range(4)}
    b_labels = {got[10 + i] for i in range(4)}
    assert len(a_labels) == 1 and len(b_labels) == 1 and a_labels != b_labels
    cent = dict(centroids)
    assert any(abs(v[1]) < 0.1 for v in cent.values())      # blob A y=0
    assert any(abs(v[1] - 5.0) < 0.1 for v in cent.values())  # blob B y=5
