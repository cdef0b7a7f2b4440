"""The driver's correctness gate, run locally: every registered query
is executed in Spark and its oracle in DuckDB on the same parquet, and
the two are compared as an order-insensitive normalized row multiset."""

from __future__ import annotations

import pytest

from bigdatanycdiseasesurveillance_spark.registry import all_specs

from .helpers import assert_parity, duck_con

SPECS = all_specs()
ORACLE_NAMES = sorted(SPECS)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, sf_dir, con, name):
    spec = SPECS[name]
    assert_parity(spec.fn(spark, sf_dir), spec.oracle, con, name)


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL++ estimate must sit within 5x the configured rsd of exact."""
    from bigdatanycdiseasesurveillance_spark.registry import all_specs

    rows = all_specs()["agg_approx_distinct"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["sketch_within_5pct"], r


def test_langid_fast_equals_dataframe_variant(spark, sf_dir):
    """mapInPandas-scored language-ID must match the explode/join/window
    formulation exactly (same normalization, profiles, tie-breaks)."""
    from bigdatanycdiseasesurveillance_spark.operators.text_analysis import (
        langid_trigram,
        langid_trigram_fast,
    )
    from bigdatanycdiseasesurveillance_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    a = sorted(map(tuple, langid_trigram(docs).collect()))
    b = sorted(map(tuple, langid_trigram_fast(docs).collect()))
    assert a == b


def test_approx_percentile_error_bound(spark, sf_dir):
    """Sketch-tier percentiles: percentile_approx with accuracy K must
    land within 1/K rank error of the exact percentile — the mergeable
    fixed-size replacement for a full sort at corpus scale."""
    from pyspark.sql import functions as F

    from bigdatanycdiseasesurveillance_spark.tables import table

    li = table(spark, sf_dir, "lineitem")
    acc = 100
    got = li.agg(
        F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.9], acc).alias("ap")
    ).collect()[0]["ap"]
    n = li.count()
    vals = [
        r["l_extendedprice"]
        for r in li.select("l_extendedprice").orderBy("l_extendedprice").collect()
    ]
    for q, a in zip([0.25, 0.5, 0.9], got):
        # rank of the approx answer must be within n/acc of the target
        import bisect

        rank = bisect.bisect_left(vals, a)
        assert abs(rank - q * n) <= n / acc + 1, (q, a, rank, q * n)
