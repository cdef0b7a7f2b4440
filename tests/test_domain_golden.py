"""Golden-output tests for the domain operators on reference-shaped
fixtures (SURVEY §5 / FIXTURES.md): relevance rules, the location
fallback cascade, and the full bronze -> silver pipeline slice
(SURVEY §7.2) over records shaped like the reference's sources (§1.3)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.domain.location import enrich_with_location
from bigdatanycdiseasesurveillance_spark.domain.normalize import normalize_events
from bigdatanycdiseasesurveillance_spark.domain.schemas import REDDIT_POST
from bigdatanycdiseasesurveillance_spark.operators.dedup import exact_dedup_groups
from bigdatanycdiseasesurveillance_spark.operators.relevance import extract_relevance
from bigdatanycdiseasesurveillance_spark.sources.readers import read_json_any

DISEASES = ("flu", "covid", "measles", "norovirus")
SYMPTOMS = ("fever", "cough", "vomiting", "rash", "fatigue")
HAZARDS = ("outbreak", "contamination")


def _relevance(df):
    return extract_relevance(df, primary=DISEASES, secondary=SYMPTOMS, hazard=HAZARDS)


def test_relevance_golden_rules(spark):
    rows = [
        # 1 disease -> relevant, mild, conf 0.25
        ("r1", "I think I caught the flu in Astoria"),
        # 2 symptoms, no disease -> relevant via symptom rule
        ("r2", "terrible fever and a dry cough since Monday"),
        # 1 symptom only -> NOT relevant
        ("r3", "just some fatigue, probably fine"),
        # hazard keyword alone -> relevant
        ("r4", "water contamination reported on my block"),
        # 3 diseases -> severe, confidence capped at 0.9
        ("r5", "flu covid and measles all going around plus fever fatigue rash"),
        # too short -> NOT relevant even with keyword
        ("r6", "flu"),
        # 2 diseases -> moderate
        ("r7", "both flu and norovirus cases at the school"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = {
        r["id"]: (
            r["is_relevant"],
            r["severity"],
            r["confidence"],
            r["matched_primary"],
        )
        for r in _relevance(df).collect()
    }
    assert got["r1"] == (True, "mild", 0.25, "flu")
    assert got["r2"] == (True, "mild", 0.2, "")
    assert got["r3"] == (False, "mild", 0.1, "")
    assert got["r4"] == (True, "mild", 0.0, "")
    assert got["r5"] == (True, "severe", 0.9, "flu,covid,measles")
    assert got["r6"] == (False, "mild", 0.25, "flu")
    assert got["r7"] == (True, "moderate", 0.5, "flu,norovirus")


def test_location_cascade_golden(spark):
    rows = [
        # subreddit wins over everything else
        ("l1", "astoria", 40.70, -73.95, "11211", "in wburg today"),
        # no subreddit: coords (Williamsburg bbox) beat zip
        ("l2", None, 40.71, -73.95, "10027", "nothing here"),
        # no subreddit/coords: exact zip -> Harlem
        ("l3", None, None, None, "10027", "nothing here"),
        # unknown zip but known prefix 112 -> borough only, source zip
        ("l4", None, None, None, "11299", "nothing here"),
        # text alias only
        ("l5", None, None, None, None, "meet me in the burg"),
        # nothing matches
        ("l6", None, None, None, "99999", "somewhere far away"),
    ]
    df = spark.createDataFrame(
        rows, "id string, subreddit string, latitude double, longitude double, zip string, text string"
    )
    out = {
        r["id"]: (r["neighborhood"], r["borough"], r["location_source"])
        for r in enrich_with_location(df, spark).collect()
    }
    assert out["l1"] == ("Astoria", "Queens", "subreddit")
    assert out["l2"] == ("Williamsburg", "Brooklyn", "coordinates")
    assert out["l3"] == ("Harlem", "Manhattan", "zip")
    assert out["l4"] == (None, "Brooklyn", "zip")
    assert out["l5"] == ("Williamsburg", "Brooklyn", "text_extraction")
    assert out["l6"] == (None, None, None)


def test_bronze_to_silver_slice(spark, tmp_path):
    """SURVEY §7.2's minimum end-to-end slice on reference-shaped
    reddit JSON: ingest (explicit schema) -> normalize -> relevance ->
    location -> exact dedup -> daily rollup."""
    posts = [
        {
            "post_id": "p1",
            "subreddit": "astoria",
            "title": "flu?",
            "author": "u1",
            "created_utc": "2025-11-29T17:17:18",
            "score": 10,
            "num_comments": 2,
            "text": "Anyone else have the flu and a fever in astoria queens?",
            "url": "https://r/p1",
            "scraped_at": "2025-12-01T00:00:00",
        },
        {
            "post_id": "p2",
            "subreddit": "williamsburg",
            "title": "sick",
            "author": "u2",
            "created_utc": "2025-11-29T18:00:00",
            "score": 3,
            "num_comments": 0,
            "text": "Bad cough and fever since the concert in wburg",
            "url": "https://r/p2",
            "scraped_at": "2025-12-01T00:00:00",
        },
        {  # exact duplicate text of p1, different id/time
            "post_id": "p3",
            "subreddit": "astoria",
            "title": "flu?",
            "author": "u3",
            "created_utc": "2025-11-30T09:00:00",
            "score": 1,
            "num_comments": 0,
            "text": "Anyone else have the flu and a fever in astoria queens?",
            "url": "https://r/p3",
            "scraped_at": "2025-12-01T00:00:00",
        },
        {  # irrelevant chatter
            "post_id": "p4",
            "subreddit": "williamsburg",
            "title": "pizza",
            "author": "u4",
            "created_utc": "2025-11-30T12:00:00",
            "score": 99,
            "num_comments": 40,
            "text": "best pizza slice around here?",
            "url": "https://r/p4",
            "scraped_at": "2025-12-01T00:00:00",
        },
    ]
    d = tmp_path / "reddit"
    d.mkdir()
    (d / "batch1.json").write_text(json.dumps(posts[:2], indent=1))
    (d / "batch2.jsonl").write_text("\n".join(json.dumps(p) for p in posts[2:]))

    bronze = read_json_any(spark, str(d), REDDIT_POST)
    assert bronze.count() == 4

    normalized = normalize_events(
        bronze,
        ts_candidates=["created_utc", "scraped_at"],
        id_candidates=["post_id"],
    )
    row = normalized.filter(F.col("id") == "p1").collect()[0]
    assert row["source"] == "reddit"
    assert row["timestamp"].year == 2025

    enriched = enrich_with_location(_relevance(normalized), spark)
    relevant = enriched.filter("is_relevant")
    got = {
        r["id"]: (r["neighborhood"], r["severity"]) for r in relevant.collect()
    }
    assert set(got) == {"p1", "p2", "p3"}
    assert got["p1"] == ("Astoria", "mild")
    assert got["p2"] == ("Williamsburg", "mild")

    # exact-dedup tier: p1 and p3 share normalized text -> one group of 2
    groups = exact_dedup_groups(relevant.withColumnRenamed("id", "doc_id"))
    dup = groups.filter(F.col("dup_count") > 1).collect()
    assert len(dup) == 1 and dup[0]["canonical_id"] == "p1"

    # daily borough rollup (the reference's materialized-view shape)
    daily = (
        relevant.groupBy(F.to_date("timestamp").alias("day"), "borough")
        .count()
        .orderBy("day", "borough")
        .collect()
    )
    assert [(str(r["day"]), r["borough"], r["count"]) for r in daily] == [
        ("2025-11-29", "Brooklyn", 1),
        ("2025-11-29", "Queens", 1),
        ("2025-11-30", "Queens", 1),
    ]


def test_location_on_a_document_stream_joins_no_absent_signal(spark, sf_dir, tmp_path):
    """Documents carry none of the subreddit, coordinate or zip signals.
    A stream keeps a join on a NULL key as a nested-loop join against an
    empty relation, so enrich_with_location must not join those lookups
    at all: the micro-batch plan has no BroadcastNestedLoopJoin, and the
    drained rows equal the batch enrichment's."""
    from bigdatanycdiseasesurveillance_spark.streaming.pipelines import (
        _run_to_memory,
        stream_table,
    )
    from bigdatanycdiseasesurveillance_spark.tables import table

    q = (
        enrich_with_location(stream_table(spark, sf_dir, "documents"), spark)
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path))
        .start()
    )
    try:
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
    finally:
        q.stop()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    drained = _run_to_memory(
        enrich_with_location(stream_table(spark, sf_dir, "documents"), spark), "append"
    )
    batch = enrich_with_location(table(spark, sf_dir, "documents"), spark)
    assert sorted(map(tuple, drained.collect()), key=repr) == sorted(
        map(tuple, batch.collect()), key=repr
    )
