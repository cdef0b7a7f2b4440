"""Winnowing fingerprint operator checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.operators import fingerprint as FP
from bigdatanycdiseasesurveillance_spark.tables import table


def test_rolling_twin_equals_column_path(spark, sf_dir):
    """The O(len) mapInPandas rolling hash and the pure-column
    expression path must produce the identical (doc_id, fingerprint)
    set over the corpus — same k/w/B/M, different evaluation."""
    docs = table(spark, sf_dir, "documents")
    a = set(map(tuple, FP.winnow_fingerprints(docs).collect()))
    b = set(map(tuple, FP.winnow_fingerprints_rolling(docs).collect()))
    assert a == b
    assert len(a) > 0


def test_shared_substring_guarantee(spark):
    """Winnowing's defining property: any shared substring of length
    >= k + w - 1 produces at least one shared fingerprint."""
    shared = "a common stretch of text long enough to fingerprint"
    df = spark.createDataFrame(
        [
            (1, f"prefix one {shared} suffix alpha"),
            (2, f"entirely different opening {shared} and closing"),
            (3, "no overlap with the others at all, not even close"),
        ],
        "doc_id long, text string",
    )
    fps = FP.winnow_fingerprints(df).collect()
    by_doc: dict[int, set[int]] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "shared substring produced no shared fingerprint"
    assert len(shared) >= FP.K + FP.W - 1


def test_short_text_has_no_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "tiny"), (2, ""), (3, None), (4, "exactly11ch")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in FP.winnow_fingerprints(df).collect()}
    # k + w - 1 = 11: the 11-char doc yields exactly one window
    assert got == {4}


def test_pair_generation_is_bucketed_and_thresholded(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    pairs = FP.fingerprint_pairs(docs).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    assert all(r["n_shared"] >= 3 for r in pairs)
