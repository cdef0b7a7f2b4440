"""Sequence-packing invariants (the FFD path has no SQL oracle)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.operators.packing import (
    pack_concat_chunks,
    pack_greedy_ffd,
)
from bigdatanycdiseasesurveillance_spark.tables import table

BUDGET = 256


def _tokens(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    n = F.size(F.filter(F.split(F.lower("text"), " "), lambda t: t != ""))
    return d.select("doc_id", n.cast("long").alias("n_tokens"))


def test_ffd_packs_every_doc_exactly_once(spark, sf_dir):
    src = _tokens(spark, sf_dir)
    packed = pack_greedy_ffd(src)
    assert packed.count() == src.count()
    assert packed.select("doc_id").distinct().count() == src.count()


def test_ffd_no_pack_exceeds_budget(spark, sf_dir):
    packed = pack_greedy_ffd(_tokens(spark, sf_dir))
    over = (
        packed.filter(F.col("pack_slot") >= 0)  # oversize docs are solo
        .groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("tot"))
        .filter(F.col("tot") > BUDGET)
        .count()
    )
    assert over == 0


def test_ffd_utilization_near_optimal(spark, sf_dir):
    """FFD within buckets must stay near the corpus-wide lower bound:
    total packs <= ceil(total_tokens / budget) + n_buckets slack (each
    bucket can strand at most ~1 partial pack vs global packing)."""
    src = _tokens(spark, sf_dir).filter(F.col("n_tokens") <= BUDGET)
    packed = pack_greedy_ffd(src)
    n_packs = packed.select("pack_id").distinct().count()
    total = src.agg(F.sum("n_tokens")).collect()[0][0]
    lower = math.ceil(total / BUDGET)
    assert n_packs <= lower * 1.15 + 8, (n_packs, lower)


def test_concat_chunks_spans_are_contiguous(spark, sf_dir):
    """Start/end spans must tile the token stream with no gaps and the
    chunk math must agree with the spans."""
    rows = (
        pack_concat_chunks(_tokens(spark, sf_dir))
        .orderBy("doc_id")
        .collect()
    )
    pos = 0
    for r in rows:
        assert r["start_tok"] == pos
        assert r["end_tok"] == pos + r["n_tokens"]
        assert r["first_chunk"] == r["start_tok"] // BUDGET
        assert r["last_chunk"] == (r["end_tok"] - 1) // BUDGET
        pos = r["end_tok"]


def test_sliding_chunks_cover_and_overlap(spark, sf_dir):
    """Every token index of every doc is covered by >=1 chunk; adjacent
    chunks overlap by exactly size - stride tokens (except tails)."""
    from bigdatanycdiseasesurveillance_spark.operators.packing import sliding_chunks
    from bigdatanycdiseasesurveillance_spark.tables import table

    size, stride = 32, 20
    rows = sliding_chunks(
        table(spark, sf_dir, "documents"), size=size, stride=stride
    ).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r["chunk_idx"])
        n = chunks[0]["start_tok"] + 0  # recompute doc length from tail
        last = chunks[-1]
        n = last["start_tok"] + last["chunk_len"]
        covered = set()
        for c in chunks:
            assert 1 <= c["chunk_len"] <= size
            assert c["start_tok"] == c["chunk_idx"] * stride
            assert len(c["chunk_text"].split(" ")) == c["chunk_len"]
            covered.update(range(c["start_tok"], c["start_tok"] + c["chunk_len"]))
        assert covered == set(range(n)), "gap in chunk coverage"
