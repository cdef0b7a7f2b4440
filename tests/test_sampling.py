"""Deterministic sampling properties: the guarantees rand(seed) lacks."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.operators import sampling
from bigdatanycdiseasesurveillance_spark.operators.sampling import (
    md5_long,
    sample_stratified,
    train_test_split,
)
from bigdatanycdiseasesurveillance_spark.tables import table


@pytest.fixture
def one_rate(monkeypatch):
    """No per-source rates: every source samples at the call's rate."""
    monkeypatch.setattr(sampling, "STRATUM_RATES", {})


def _sample(docs, rate):
    """Every stratum at one rate (under `one_rate`): a plain hash-deviate
    sample by doc_id."""
    return sample_stratified(docs, default_rate=rate)


def test_sample_membership_is_layout_independent(spark, sf_dir, one_rate):
    """Same data, different partitioning -> same sampled SET. This is
    the property that makes 100 TB reruns reproducible and is exactly
    where df.sample(seed=...) fails."""
    docs = table(spark, sf_dir, "documents")
    a = {r["doc_id"] for r in _sample(docs, 0.3).collect()}
    b = {r["doc_id"] for r in _sample(docs.repartition(17), 0.3).collect()}
    assert a == b and 0 < len(a) < docs.count()


def test_split_is_disjoint_and_exhaustive(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tagged = train_test_split(docs, test_rate=0.2)
    counts = {r["split"]: r["n"] for r in tagged.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "test"}
    assert sum(counts.values()) == docs.count()


def test_nested_samples_are_monotone(spark, sf_dir, one_rate):
    """A p-sample is a subset of a q-sample when p <= q (same salt) —
    the deviate construction gives nested samples for free, so a 1%
    debug corpus is always inside the 10% dev corpus."""
    docs = table(spark, sf_dir, "documents")
    small = {r["doc_id"] for r in _sample(docs, 0.1).collect()}
    big = {r["doc_id"] for r in _sample(docs, 0.4).collect()}
    assert small <= big


def test_stratified_respects_full_and_zero_rates(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(sampling, "STRATUM_RATES", {"src0": 1.0})
    docs = table(spark, sf_dir, "documents")
    out = sample_stratified(docs, default_rate=0.0)
    got = {r["source"] for r in out.select("source").distinct().collect()}
    assert got == {"src0"}
    assert out.count() == docs.filter(F.col("source") == "src0").count()


@pytest.mark.parametrize("value", ["", "fever cough", "fièvre 發燒 ☃", 9007199254740993])
def test_md5_long_matches_duckdb_twin(spark, value):
    """md5_long is the engine's one md5 -> long hash; every oracle
    replays it as CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)."""
    got = spark.range(1).select(md5_long(F.lit(value).cast("string"))).first()[0]
    want = duckdb.sql(
        "SELECT CAST(('0x' || substr(md5(CAST($v AS VARCHAR)), 1, 15)) AS BIGINT)",
        params={"v": value},
    ).fetchone()[0]
    assert got == want and 0 <= got < 1 << 60
