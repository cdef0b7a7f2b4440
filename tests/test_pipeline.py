"""End-to-end pipeline (SURVEY §3.1 replacement) + gated NER operator."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.domain.schemas import REDDIT_POST
from bigdatanycdiseasesurveillance_spark.pipeline import _observed, run_pipeline

VOCAB = dict(
    primary_vocab=("flu", "covid", "measles"),
    secondary_vocab=("fever", "cough", "rash"),
    hazard_vocab=("outbreak",),
)


def _post(i, text, sub="astoria", day=29):
    return {
        "post_id": f"p{i}",
        "subreddit": sub,
        "title": "t",
        "author": f"u{i}",
        "created_utc": f"2025-11-{day:02d}T12:00:00",
        "score": i,
        "num_comments": 0,
        "text": text,
        "url": f"https://r/{i}",
        "scraped_at": "2025-12-01T00:00:00",
    }


def _write_corpus(tmp_path, posts):
    """The end-to-end test's two bronze shapes: the first two posts as a
    JSON array, the rest as JSONL lines (a str is written as a raw,
    possibly malformed line)."""
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    (bronze / "a.json").write_text(json.dumps(posts[:2]))
    (bronze / "b.jsonl").write_text(
        "\n".join(p if isinstance(p, str) else json.dumps(p) for p in posts[2:])
    )
    return bronze


def _run(spark, tmp_path, posts):
    return run_pipeline(
        spark,
        str(_write_corpus(tmp_path, posts)),
        str(tmp_path / "out"),
        REDDIT_POST,
        ts_candidates=["created_utc", "scraped_at"],
        id_candidates=["post_id"],
        **VOCAB,
    )


POSTS = [
    _post(1, "flu going around astoria queens"),
    _post(2, "flu going around astoria queens"),  # exact dup of p1
    _post(3, "bad cough and fever in wburg", sub="williamsburg", day=30),
    _post(4, "nice weather today"),  # irrelevant
]


def test_pipeline_end_to_end(spark, tmp_path):
    res = _run(spark, tmp_path, POSTS)
    assert res.n_bronze == 4
    assert res.n_unique == 3  # p2 flagged duplicate
    assert res.n_relevant == 2  # p1, p3 (p2 dup, p4 irrelevant)

    silver = spark.read.parquet(res.silver_path)
    # date partitioning materialized as directories
    assert any(
        d.startswith("event_date=") for d in os.listdir(res.silver_path)
    )
    dup_flags = {r["id"]: r["is_duplicate"] for r in silver.collect()}
    assert dup_flags == {"p1": False, "p2": True, "p3": False, "p4": False}

    daily = {
        (str(r["event_date"]), r["borough"]): r["cnt"]
        for r in spark.read.parquet(res.gold_daily_path).collect()
    }
    assert daily == {("2025-11-29", "Queens"): 1, ("2025-11-30", "Brooklyn"): 1}

    sev = {r["severity"]: r["cnt"] for r in spark.read.parquet(res.gold_severity_path).collect()}
    assert sev == {"mild": 2}


def _assert_counts_match_silver(spark, res):
    """The observed counts equal explicit counts over the written silver
    table, and are ints (an observed sum over no rows would be None)."""
    silver = spark.read.parquet(res.silver_path)
    unique = silver.filter(~F.col("is_duplicate"))
    want = (
        silver.count(),
        unique.count(),
        unique.filter(F.col("is_relevant")).count(),
    )
    got = (res.n_bronze, res.n_unique, res.n_relevant)
    assert got == want
    assert all(type(n) is int for n in got)


def test_pipeline_counts_skip_malformed_line(spark, tmp_path):
    posts = POSTS[:3] + ['{"post_id": "p9", "text": "flu', POSTS[3]]
    res = _run(spark, tmp_path, posts)
    assert (res.n_bronze, res.n_unique, res.n_relevant) == (4, 3, 2)
    _assert_counts_match_silver(spark, res)


def test_pipeline_counts_all_irrelevant(spark, tmp_path):
    posts = [_post(i, f"nice weather today {i % 2}") for i in range(5)]
    res = _run(spark, tmp_path, posts)
    assert (res.n_bronze, res.n_unique, res.n_relevant) == (5, 2, 0)
    _assert_counts_match_silver(spark, res)


@pytest.mark.parametrize(
    "files",
    [
        {"b.jsonl": '{"post_id": "p9", "text": "flu\nnot a record'},
        {"a.json": "[]"},
        {"a.json": ""},
        {},
    ],
    ids=["malformed_lines_only", "empty_array", "empty_file", "empty_dir"],
)
def test_pipeline_counts_empty_bronze(spark, tmp_path, files):
    """A bronze corpus without one valid record writes no silver row, so
    the adaptive plan drops both observations; the counts are 0."""
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    for name, text in files.items():
        (bronze / name).write_text(text)
    res = run_pipeline(
        spark,
        str(bronze),
        str(tmp_path / "out"),
        REDDIT_POST,
        ts_candidates=["created_utc", "scraped_at"],
        id_candidates=["post_id"],
        **VOCAB,
    )
    assert (res.n_bronze, res.n_unique, res.n_relevant) == (0, 0, 0)
    assert spark.read.parquet(res.gold_daily_path).count() == 0


def test_observation_without_row_raises(spark):
    """An observation the executed plan dropped comes back without a row;
    reading it must name the contract, not return None."""
    import pytest
    from pyspark.sql import Observation

    obs = Observation()
    # the optimizer prunes the observed subtree under a constant-false filter
    dropped = spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).filter("false")
    dropped.write.format("noop").mode("overwrite").save()
    with pytest.raises(ValueError, match="silver write must observe the bronze counts"):
        _observed(obs, "bronze")


# Jobs one run_pipeline launches on the end-to-end corpus, as measured:
# 3 for the silver write (one over a local location dimension, the
# fingerprint-window shuffle, the write) and 2 for each gold write (the
# aggregate shuffle, the write). The counts ride on the silver write and
# silver is read back with the written schema, so a counting scan or a
# schema-inference job added back fails this.
PIPELINE_MAX_JOBS = 7


def test_pipeline_job_count(spark, tmp_path):
    sc = spark.sparkContext
    group = "test_pipeline_job_count"
    sc.setJobGroup(group, "run_pipeline")
    try:
        _run(spark, tmp_path, POSTS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # every job has started by now; wait for the status store to see it
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= PIPELINE_MAX_JOBS
