"""Every capped driver fast path against the distributed path it
shortcuts, through one harness.

Each operator that swaps a multi-round plan for driver work off
operators.bounded.bounded_collect runs twice: at its default cap (the
fast path, on these small inputs) and with the cap forced to -1 (the
distributed fallback). The collected results and schemas must be equal.
Raise-mode callers, whose input is bounded by construction, must fail
loudly with their contract named once the cap is exceeded.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.operators import clustering as C
from bigdatanycdiseasesurveillance_spark.operators import dedup as D
from bigdatanycdiseasesurveillance_spark.operators import ranking as R
from bigdatanycdiseasesurveillance_spark.operators.bounded import (
    bounded_collect,
    min_label_components,
)
from bigdatanycdiseasesurveillance_spark.queries import graph_q as G

# chain + clique + isolated-pair graph exercising multi-hop merges
_PAIRS = (
    [(i, i + 1) for i in range(0, 8)]  # diameter-8 chain 0..8
    + [(20, 21), (21, 22), (20, 22)]  # triangle
    + [(30, 31)]  # isolated pair
)


def _pts_2d(spark, n=200):
    """Deterministic 2-D cloud with an LCG — includes negative values
    and clusters of unequal size so several iterations actually move."""
    rows = []
    s = 12345
    for i in range(n):
        s = (s * 1103515245 + 12345) % (1 << 31)
        x = (s / float(1 << 31)) * 10 - 5
        s = (s * 1103515245 + 12345) % (1 << 31)
        y = (s / float(1 << 31)) * 6 - 3
        rows.append((i, x, y))
    return spark.createDataFrame(rows, "vec_id long, x double, y double")


def _collect(df):
    """(schema, sorted rows): the order-free comparison of a result."""
    return df.schema.simpleString(), sorted(tuple(r) for r in df.collect())


def _cc(spark, sf_dir):
    pairs = spark.createDataFrame(_PAIRS, "id_a long, id_b long")
    return _collect(D.connected_components(pairs))


def _lloyd_2d(spark, sf_dir):
    return _collect(C.lloyd_kmeans_2d(_pts_2d(spark)))


def _lloyd_nd(spark, sf_dir):
    base = _pts_2d(spark, n=150)
    pts = base.select(
        F.col("vec_id").alias("pid"),
        F.col("x").alias("e0"),
        F.col("y").alias("e1"),
        (F.col("x") * F.col("y")).alias("e2"),
        (F.col("x") - F.col("y")).alias("e3"),
    )
    assigned, centroids = C.lloyd_kmeans_nd(
        pts, ["e0", "e1", "e2", "e3"], k=4, iters=4, id_col="pid"
    )
    # the assigned frame carries the exact dim doubles, and the rounded
    # final centroids must be value-exact too
    return _collect(assigned), centroids


def _tree(spark, sf_dir):
    return _collect(G.tree_subtree_rollup(spark, sf_dir))


# name -> (module, cap constant, run)
FALLBACK_CASES = {
    "connected_components": (D, "SMALL_GRAPH_PAIRS", _cc),
    "lloyd_kmeans_2d": (C, "SMALL_KMEANS_POINTS", _lloyd_2d),
    "lloyd_kmeans_nd": (C, "SMALL_KMEANS_POINTS", _lloyd_nd),
    "tree_subtree_rollup": (G, "TREE_FAST_PATH_NODES", _tree),
}


@pytest.mark.parametrize("name", sorted(FALLBACK_CASES))
def test_fast_path_equals_distributed(spark, sf_dir, monkeypatch, name):
    mod, cap, run = FALLBACK_CASES[name]
    fast = run(spark, sf_dir)
    monkeypatch.setattr(mod, cap, -1)  # force the distributed fallback
    slow = run(spark, sf_dir)
    assert fast == slow
    assert fast[1]  # non-empty result


def test_cc_fast_path_labels_are_component_minimum(spark):
    pairs = spark.createDataFrame(_PAIRS, "id_a long, id_b long")
    got = {r["doc_id"]: r["canonical_id"] for r in D.connected_components(pairs).collect()}
    assert got[8] == 0 and got[22] == 20 and got[31] == 30


def test_cc_fast_path_empty_edges(spark):
    """Zero edges must return an empty, correctly-typed label frame."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = D.connected_components(pairs)
    assert out.columns == ["doc_id", "canonical_id"]
    assert out.count() == 0
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint",
        "bigint",
    ]


def _cells(spark, sf_dir):
    cells = spark.createDataFrame(
        [(i, 0, 1) for i in range(4)], "cx long, cy long, w long"
    )
    return C.cellgrid_assign(cells).collect()


def _ranks(spark, sf_dir):
    return R.bucketed_global_rank(
        spark.range(100), F.col("id"), [F.asc("id")], rank_col="rn"
    ).collect()


def _bfs(spark, sf_dir):
    return G.graph_bfs_hops(spark, sf_dir).collect()


# name -> (module, cap constant, run); the raise names the constant
RAISE_CASES = {
    "cellgrid_assign": (C, "BOUNDED_CELLS_CAP", _cells),
    "bucketed_rank_offsets": (R, "MAX_BUCKETS", _ranks),
    "graph_bfs_hops": (G, "BFS_EDGE_CAP", _bfs),
}


@pytest.mark.parametrize("name", sorted(RAISE_CASES))
def test_bounded_collect_raises_over_cap(spark, sf_dir, monkeypatch, name):
    mod, cap, run = RAISE_CASES[name]
    assert run(spark, sf_dir)  # under the default cap: a result
    monkeypatch.setattr(mod, cap, -1)
    with pytest.raises(ValueError, match=cap):
        run(spark, sf_dir)


def test_lloyd_fast_path_falls_back_on_nulls(spark):
    """A null coordinate must not take the driver path (numpy would
    coerce to NaN and silently change assignment semantics) — the
    distributed loop's null semantics stay authoritative."""
    rows = [(0, 1.0, 1.0), (1, None, 2.0), (2, 3.0, 3.0), (3, 4.0, 4.0)]
    pts = spark.createDataFrame(rows, "pid long, x double, y double")
    assert C._lloyd_head(pts, ["x", "y"]) is None
    assert C._lloyd_head(pts.filter("x IS NOT NULL"), ["x", "y"]) is not None


def test_bounded_collect_modes(spark):
    df = spark.range(5)
    assert bounded_collect(df, 5).num_rows == 5
    assert bounded_collect(df, 4) is None
    with pytest.raises(ValueError, match="the contract.*more than 4 rows"):
        bounded_collect(df, 4, "the contract")


def test_min_label_components_equals_connected_components(spark, monkeypatch):
    """The shared driver union-find agrees with the distributed
    min-label loop on identical edges, including self-edges (core cells
    always carry one)."""
    edges = _PAIRS + [(n, n) for n in (0, 20, 30, 40)]
    got = min_label_components(edges)
    monkeypatch.setattr(D, "SMALL_GRAPH_PAIRS", -1)  # force the loop
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    loop = {r["doc_id"]: r["canonical_id"] for r in D.connected_components(pairs).collect()}
    assert got == loop


def _labels(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return sorted(tuple(r) for r in D.connected_components(df).collect())


def test_cc_pair_list_probe_reverse_duplicate_and_self_pairs(spark, monkeypatch):
    """The fast path labels the pair list as given, with no mirrored
    edges: pairs in both directions, repeated pairs and a self-pair
    (an isolated node) must label as the distributed loop does."""
    pairs = _PAIRS + [(1, 0), (8, 7), (21, 20), (2, 3), (2, 3), (40, 40), (31, 30)]
    fast = _labels(spark, pairs)
    monkeypatch.setattr(D, "SMALL_GRAPH_PAIRS", -1)  # force the loop
    assert fast == _labels(spark, pairs)
    assert (40, 40) in fast and (8, 0) in fast


def test_cc_fast_path_cap_is_in_pair_rows(spark, monkeypatch):
    """A list of exactly SMALL_GRAPH_PAIRS rows takes the driver
    union-find; one row more takes the distributed loop."""
    calls = []

    def spy(edges):
        calls.append(1)
        return min_label_components(edges)

    monkeypatch.setattr(D, "min_label_components", spy)
    monkeypatch.setattr(D, "SMALL_GRAPH_PAIRS", len(_PAIRS))
    at_cap = _labels(spark, _PAIRS)
    assert calls == [1]
    over_cap = _labels(spark, _PAIRS + [(40, 41)])
    assert calls == [1]  # the loop ran
    assert over_cap == sorted(at_cap + [(40, 40), (41, 40)])
