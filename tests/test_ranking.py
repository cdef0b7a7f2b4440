"""operators/ranking.py — the bucketed-rank device (r10 verdict
directives #1/#5): the scale rewrite of single-partition windows must
be VALUE-identical to the naive global window on ties, skew, negative
bucket keys, and NTILE's uneven-tile arithmetic, because four registry
queries (agg_rfm_segments, feat_quantile_normalize,
feat_quantile_binning, pack_concat_chunks_spans) now route through it
with the naive form as their oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.operators.ranking import (
    bucketed_global_rank,
    bucketed_running_sum,
    ntile_from_rank,
)


def _skewed(spark, n=500):
    """Values with heavy ties (v = id % 13) and a deterministic
    tiebreak column; bucket keys deliberately coarse AND negative."""
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 13).alias("v"),
        (F.col("id") % 7).alias("w"),
    )


def test_bucketed_rank_matches_global_window(spark):
    df = _skewed(spark)
    got = bucketed_global_rank(
        df, -F.col("v"), [F.desc("v"), F.asc("id")], rank_col="rn",
        total_col="n",
    )
    want = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("v"), F.asc("id")))
    )
    g = {r["id"]: r["rn"] for r in got.collect()}
    w = {r["id"]: r["rn"] for r in want.collect()}
    assert g == w
    assert got.select("n").distinct().collect()[0]["n"] == 500


def test_bucketed_running_sum_matches_global_window(spark):
    df = _skewed(spark).withColumnRenamed("w", "n_tokens")
    got = bucketed_running_sum(df, F.expr("id div 64"), [F.asc("id")], out_col="rs")
    win = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("rs", F.sum("n_tokens").over(win))
    g = {r["id"]: r["rs"] for r in got.collect()}
    w = {r["id"]: r["rs"] for r in want.collect()}
    assert g == w


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5, 7, 8, 100, 101, 103])
def test_ntile_from_rank_matches_spark_ntile(spark, n):
    df = spark.range(n).select(F.col("id"))
    ranked = bucketed_global_rank(
        df, F.expr("id div 16"), [F.asc("id")], rank_col="rn", total_col="n_users"
    )
    got = {
        r["id"]: r["t"]
        for r in ranked.select(
            "id", ntile_from_rank("rn").alias("t")
        ).collect()
    }
    want = {
        r["id"]: r["t"]
        for r in df.select(
            "id", F.ntile(4).over(Window.orderBy("id")).cast("long").alias("t")
        ).collect()
    }
    assert got == want


def test_rank_plan_has_no_global_window(spark):
    from bigdatanycdiseasesurveillance_spark.plans.inspect import (
        global_window_count,
    )

    out = bucketed_global_rank(
        _skewed(spark), F.col("v"), [F.asc("v"), F.asc("id")], rank_col="rn"
    )
    assert global_window_count(out) == 0


def test_max_buckets_guard(spark):
    from bigdatanycdiseasesurveillance_spark.operators import ranking

    orig = ranking.MAX_BUCKETS
    ranking.MAX_BUCKETS = 10
    try:
        with pytest.raises(ValueError, match="MAX_BUCKETS"):
            bucketed_global_rank(
                spark.range(100), F.col("id"), [F.asc("id")], rank_col="rn"
            )
    finally:
        ranking.MAX_BUCKETS = orig
