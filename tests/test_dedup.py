"""Structural checks for the non-SQL-expressible dedup tiers."""

from __future__ import annotations

from pyspark.sql import functions as F

import math

from bigdatanycdiseasesurveillance_spark.operators import dedup as D
from bigdatanycdiseasesurveillance_spark.tables import table


def test_minhash_pairs_are_verified_jaccard(spark, sf_dir):
    """Every MinHash-LSH pair is exact-verified, so each emitted pair
    must carry jaccard >= threshold; and pairs that fall in the same
    blocking bucket of the exact blocked scan must agree."""
    docs = table(spark, sf_dir, "documents")
    lsh = D.minhash_lsh_pairs(docs, threshold=0.7)
    rows = lsh.collect()
    assert all(r["jaccard"] >= 0.7 for r in rows)
    # exact pairs within (source, bucket) blocks
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs).collect()
    }
    lsh_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    # any LSH pair that satisfies the blocking constraint must be in the
    # exact set with the same (rounded) jaccard
    for pair, j in lsh_pairs.items():
        if pair in exact:
            assert abs(exact[pair] - j) < 1e-9
    # LSH should recover most high-sim exact pairs (recall check: >= 0.9
    # expected ~0.97 at 8x4 bands for j>=0.7)
    if exact:
        recall = len(set(exact) & set(lsh_pairs)) / len(exact)
        assert recall >= 0.85, f"LSH recall too low: {recall}"


def test_exact_dedup_total_preserved(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    groups = D.exact_dedup_groups(docs)
    assert groups.agg(F.sum("dup_count")).first()[0] == docs.count()


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "entirely different words about database engines and query plans"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs or pairs[(1, 3)] > 0


def test_embedding_pairs_symmetric_threshold(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    pairs = D.embedding_cosine_pairs(emb).collect()
    assert all(r["cosine_sim"] >= 0.35 for r in pairs)
    assert all(r["id_a"] < r["id_b"] for r in pairs)


def test_embedding_pairs_gemm_equals_expression_twin(spark, sf_dir, monkeypatch):
    """The production GEMM kernel must match the interpreted
    zip_with/aggregate expression formulation exactly — same pairs,
    same rounded similarities (the langid fast-vs-DataFrame device).
    A tiny chunk size forces the chunked-GEMM path across chunk
    boundaries."""
    monkeypatch.setattr(D, "GEMM_CHUNK", 7)
    emb = table(spark, sf_dir, "embeddings")
    expr = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in D.embedding_cosine_pairs(emb).collect()
    }
    gemm = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in D.embedding_cosine_pairs_gemm(emb, threshold=0.35).collect()
    }
    # key sets exact; values tolerate ONE 4-decimal rounding step for
    # summation-order drift straddling a rounding boundary — the same
    # tolerance the companion property test uses (a kernel bug shows up
    # orders larger)
    assert set(gemm) == set(expr) and expr
    for k, v in gemm.items():
        assert abs(v - expr[k]) <= 1.0001e-4, (k, v, expr[k])


def test_embedding_pairs_gemm_duplicate_ids_and_zero_norms(spark, monkeypatch):
    """Two contract edges the sf fixtures can't reach: (1) a block
    holding DUPLICATE vec_ids must not emit an id_a == id_b pair (the
    triangle filter compares ids, not positions); (2) a zero vector
    yields cosine 0.0 in BOTH kernels (clamped divisor), never a NaN
    that passes the threshold by Spark's NaN-sorts-last rule."""
    rows = [
        (1, 0, [1.0, 0.0, 0.0, 0.0]),
        (1, 0, [1.0, 0.0, 0.0, 0.0]),  # duplicate id, identical vector
        (2, 0, [1.0, 0.0, 0.0, 0.0]),
        (3, 0, [0.0, 0.0, 0.0, 0.0]),  # zero-norm vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    expr = D.embedding_cosine_pairs(df).collect()
    monkeypatch.setattr(D, "GEMM_CHUNK", 2)
    gemm = D.embedding_cosine_pairs_gemm(df, threshold=0.35).collect()
    for out in (expr, gemm):
        assert all(r["id_a"] < r["id_b"] for r in out)
        assert all(not math.isnan(r["cosine_sim"]) for r in out)
        assert all(3 not in (r["id_a"], r["id_b"]) for r in out)
    assert {(r["id_a"], r["id_b"], r["cosine_sim"]) for r in expr} == {
        (r["id_a"], r["id_b"], r["cosine_sim"]) for r in gemm
    } == {(1, 2, 1.0)}


def test_connected_components_known_graph(spark):
    """CC on a hand-built graph: {1-2-3 chain}, {5-6}, isolated 9 (no
    edges -> not labeled)."""
    from bigdatanycdiseasesurveillance_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["canonical_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_connected_components_long_chain(spark):
    """A 12-node path needs multiple propagation rounds — exercises the
    iteration/convergence logic, not just one hop."""
    from bigdatanycdiseasesurveillance_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["canonical_id"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(12)}


def test_certification_band_replay_equals_operator_buckets(spark):
    """The certification queries replay the operator's banding via the
    shared helpers; this pins the semantics end-to-end: a pair collides
    in >=1 of minhash_lsh_pairs' bucket joins IFF the replayed
    band-hash-equality predicate fires for the same token sets."""
    from bigdatanycdiseasesurveillance_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "flu outbreak reported in queens this week"),
            (2, "flu outbreak reported in queens this week"),  # exact dup
            (3, "flu outbreak reported in brooklyn this week"),  # near dup
            (4, "measles cases rising across staten island schools"),
            (5, "subway delays on the f line this morning"),
            (6, "flu outbreak reported in queens this month"),  # near dup
        ],
        "doc_id long, text string",
    )
    # operator side: ALL banded-together pairs (threshold=0 keeps every
    # verified candidate, i.e. exactly the bucket-collision relation)
    op_pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(docs, threshold=0.0).collect()
    }
    # certification side: per-doc signatures + shared band-hash helper,
    # hit = any band hash equal (the predicate dedup_minhash_lsh uses)
    from pyspark.sql import functions as F

    sigs = docs.select(
        F.col("doc_id").alias("id"), F.expr(D.distinct_tokens("text")).alias("tok")
    ).select(
        "id", F.expr(D.minhash_signature()).alias("sig")
    ).select(
        "id", *[F.expr(h).alias(f"bh{b}") for b, h in enumerate(D.minhash_band_hashes())]
    )
    rows = {r["id"]: [r[f"bh{b}"] for b in range(D.MINHASH_BANDS)] for r in sigs.collect()}
    ids = sorted(rows)
    replay_pairs = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if any(x == y for x, y in zip(rows[a], rows[b]))
    }
    assert op_pairs == replay_pairs
    assert (1, 2) in op_pairs  # identical docs always collide


def test_connected_components_log_depth_on_chain(spark, monkeypatch):
    """Pointer jumping must keep the materialization count O(log d): a
    24-node path (diameter 23) has to converge well inside the
    CC_MAX_STEPS=20 PROPAGATION-step budget, which plain 1-hop
    propagation could not do (it needs 23 steps). Also pins label
    correctness on a long chain. The small-graph fast path is forced
    off so the distributed loop is what runs."""
    from bigdatanycdiseasesurveillance_spark.operators import dedup as D

    monkeypatch.setattr(D, "SMALL_GRAPH_PAIRS", -1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(23)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in D.connected_components(pairs).collect()
    }
    assert got == {i: 0 for i in range(24)}


def test_connected_components_raises_when_not_converged(spark, monkeypatch):
    """A graph still changing after CC_MAX_STEPS propagation steps must
    fail loudly, never return under-merged groups silently."""
    import pytest

    from bigdatanycdiseasesurveillance_spark.operators import dedup as D

    monkeypatch.setattr(D, "SMALL_GRAPH_PAIRS", -1)  # force the loop
    monkeypatch.setattr(D, "CC_MAX_STEPS", 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs).collect()


def test_jaccard_gemm_equals_dataframe_variant(spark, sf_dir):
    """GEMM and pure-DataFrame Jaccard formulations must agree exactly
    (same tokenization, blocking, rounding, threshold)."""
    from bigdatanycdiseasesurveillance_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_gemm,
    )
    from bigdatanycdiseasesurveillance_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    a = sorted(map(tuple, jaccard_pairs(docs).collect()))
    b = sorted(map(tuple, jaccard_pairs_gemm(docs).collect()))
    assert a == b


def test_incremental_groups_equal_full_recompute(spark, sf_dir):
    """The incremental supernode merge must reproduce the full-corpus
    duplicate groups exactly — the maintained-artifact contract."""
    from bigdatanycdiseasesurveillance_spark.registry import all_specs

    specs = all_specs()
    full = {
        (r["canonical_id"], r["group_size"])
        for r in specs["dedup_duplicate_groups"].fn(spark, sf_dir).collect()
    }
    inc = {
        (r["canonical_id"], r["group_size"])
        for r in specs["dedup_incremental_groups"].fn(spark, sf_dir).collect()
    }
    assert inc == full and full


def test_two_batch_persisted_groups_equal_full_recompute(spark, sf_dir):
    """Two successive batch merges against the PERSISTED gold artifact
    (write_gold_version -> read_latest_gold -> condensed delta-CC, twice)
    must land on the same duplicate groups as the from-scratch
    recompute — artifact round-trip included."""
    from bigdatanycdiseasesurveillance_spark.registry import all_specs

    specs = all_specs()
    full = {
        (r["canonical_id"], r["group_size"])
        for r in specs["dedup_duplicate_groups"].fn(spark, sf_dir).collect()
    }
    two = {
        (r["canonical_id"], r["group_size"])
        for r in specs["inc_groups_two_batch"].fn(spark, sf_dir).collect()
    }
    assert two == full and full


def test_sorted_neighborhood_window_bound_and_adjacency(spark, sf_dir, monkeypatch):
    """SNM emits at most (w-1) x n candidate pairs, and two docs whose
    normalized texts share a 12-char prefix and are Jaccard-identical
    must pair."""
    from bigdatanycdiseasesurveillance_spark.queries import dedup_q as DQ

    rows = [
        (1, "influenza outbreak in queens reported today", "s"),
        (2, "influenza outbreak in queens reported today", "s"),  # dup of 1
        (3, "zebra totally unrelated content words here", "s"),
        (4, "measles cases rising in brooklyn schools", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    monkeypatch.setattr(DQ, "table", lambda _s, _d, _n: df)
    out = DQ.dedup_sorted_neighborhood(spark, sf_dir).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert pairs.get((1, 2)) == 1.0
    assert all(j >= 0.7 for j in pairs.values())
    # candidate bound: w-1 = 3 neighbors per doc max
    assert len(pairs) <= 3 * len(rows)
