"""Sources/sinks (SURVEY §2.1): dual-format JSON reads, partitioned
parquet, compaction, versioned gold tables and their retention."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.domain.schemas import NYC_311, RSS_ARTICLE
from bigdatanycdiseasesurveillance_spark.sources.readers import read_json_any
from bigdatanycdiseasesurveillance_spark.sources.sinks import (
    write_partitioned_parquet,
)

RSS_RECORDS = [
    {
        "source": "rss",
        "title": f"article {i}",
        "link": f"https://x/{i}",
        "published": "Mon, 01 Jan 2024 00:00:00 GMT",
        "summary": "s",
        "scraped_at": "2024-01-02T03:04:05",
    }
    for i in range(6)
]


def test_read_json_any_mixed_dir(spark, tmp_path):
    d = tmp_path / "bronze"
    d.mkdir()
    # one array-JSON file (pretty-printed, multiline), one JSONL file,
    # one JSONL file with a malformed line
    (d / "a.json").write_text(json.dumps(RSS_RECORDS[:3], indent=2))
    (d / "b.jsonl").write_text("\n".join(json.dumps(r) for r in RSS_RECORDS[3:5]))
    (d / "c.jsonl").write_text(
        json.dumps(RSS_RECORDS[5]) + "\nnot json at all\n"
    )
    out = read_json_any(spark, str(d), RSS_ARTICLE)
    rows = out.orderBy("title").collect()
    assert [r["title"] for r in rows] == [f"article {i}" for i in range(6)]
    # lineage column points at the originating file
    assert all(r["source_path"].endswith((".json", ".jsonl")) for r in rows)
    # timestamps parsed via the explicit schema, not inference
    assert rows[0]["scraped_at"] == dt.datetime(2024, 1, 2, 3, 4, 5)


def test_read_json_any_nested_struct(spark, tmp_path):
    rec = {
        "source": "nyc_311",
        "id": "311-1",
        "timestamp": "2024-01-05T06:07:08",
        "type": "Rodent",
        "description": "d",
        "location": {"zip": "11102", "lat": "40.77", "lon": "-73.92"},
        "status": "open",
        "scraped_at": "2024-01-05T07:00:00",
    }
    d = tmp_path / "b311"
    d.mkdir()
    (d / "x.json").write_text(json.dumps([rec]))
    out = read_json_any(spark, str(d), NYC_311)
    row = out.collect()[0]
    assert row["location"]["zip"] == "11102"
    assert row["type"] == "Rodent"


def test_partitioned_parquet_prunes(spark, tmp_path):
    path = str(tmp_path / "part_tbl")
    df = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + i % 3)) for i in range(30)], "k long, event_date date"
    )
    write_partitioned_parquet(df, path, ["event_date"], mode="overwrite")
    back = spark.read.parquet(path).filter(F.col("event_date") == "2024-01-02")
    assert back.count() == 10
    # the date filter must land in PartitionFilters (directory pruning),
    # NOT in the data filters — at 100 TB this is the difference between
    # listing one partition and scanning every file's footer
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan


def test_compact_table(spark, tmp_path):
    from bigdatanycdiseasesurveillance_spark.sources.sinks import compact_table

    path = str(tmp_path / "fragmented")
    # simulate a streaming sink's small-file accretion: 12 appends
    for i in range(12):
        spark.createDataFrame([(i, f"v{i}")], "k long, v string").write.mode(
            "append"
        ).parquet(path)
    before = spark.read.parquet(path)
    rows_before = sorted(map(tuple, before.collect()))
    n_files = compact_table(spark, path, target_files=2)
    assert n_files <= 2
    after = spark.read.parquet(path)
    assert sorted(map(tuple, after.collect())) == rows_before


def test_gold_versioning(spark, tmp_path):
    from bigdatanycdiseasesurveillance_spark.sources.sinks import (
        read_latest_gold,
        write_gold_version,
    )

    base = str(tmp_path / "gold_daily")
    v1 = spark.createDataFrame([("a", 1)], "k string, cnt int")
    v2 = spark.createDataFrame([("a", 2), ("b", 5)], "k string, cnt int")
    assert write_gold_version(v1, base) == 1
    assert write_gold_version(v2, base) == 2
    latest = read_latest_gold(spark, base)
    assert sorted(map(tuple, latest.collect())) == [("a", 2), ("b", 5)]


def test_vacuum_safety_rails(spark, tmp_path):
    """Vacuum must never destroy live data: keep=0 clamps to 1 (the
    latest committed version survives), and a FRESH partial — which is
    indistinguishable from an in-flight concurrent writer — is spared
    until it outlives the grace period."""
    import os

    from bigdatanycdiseasesurveillance_spark.sources.sinks import (
        latest_gold_version,
        vacuum_gold_versions,
        write_gold_version,
    )

    base = str(tmp_path / "gold_rails")
    df = spark.createDataFrame([("a", 1)], "k string, cnt int")
    for _ in range(3):
        write_gold_version(df, base)
    # a fresh partial: version=9 dir with data but no _SUCCESS
    partial = os.path.join(base, "version=9")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as fh:
        fh.write(b"inflight")

    n_deleted, n_kept = vacuum_gold_versions(base, keep=0)
    assert n_kept == 1 and latest_gold_version(base) == 3  # keep=0 clamped
    assert os.path.isdir(partial)  # fresh partial spared by grace period
    assert n_deleted == 2

    # age the partial past the grace window -> swept
    old = 1.0
    os.utime(os.path.join(partial, "part-00000.parquet"), (old, old))
    os.utime(partial, (old, old))
    n_deleted, n_kept = vacuum_gold_versions(base, keep=1)
    assert not os.path.isdir(partial)
    assert n_deleted == 1 and n_kept == 1


def test_vacuum_then_compact_keeps_version_readable(spark, tmp_path):
    """The maintenance composition inc_groups_compacted performs:
    vacuum to the live version, compact its files IN PLACE, and the
    version must still be the committed latest (compact_table's
    overwrite rewrites _SUCCESS — if it ever stopped doing so,
    read_latest_gold would see no committed version at all, the
    worst possible failure for a maintained artifact)."""
    import os

    from bigdatanycdiseasesurveillance_spark.sources.sinks import (
        compact_table,
        latest_gold_version,
        read_latest_gold,
        vacuum_gold_versions,
        write_gold_version,
    )

    base = str(tmp_path / "gold_maint")
    rows = [(i, f"v{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "k long, v string").repartition(8)
    write_gold_version(df, base)
    write_gold_version(df, base)
    v = latest_gold_version(base)

    vacuum_gold_versions(base, keep=1, partial_grace_sec=0.0)
    assert latest_gold_version(base) == v

    vdir = os.path.join(base, f"version={v}")
    n_files = compact_table(spark, vdir, target_files=1)
    assert n_files == 1
    assert latest_gold_version(base) == v, "_SUCCESS lost in compaction"
    got = sorted(map(tuple, read_latest_gold(spark, base).collect()))
    assert got == sorted(rows)


def test_schema_memo_keyed_per_context_and_pushdown_intact(spark, sf_dir):
    """The parquet-schema memo must serve the same StructType object
    class per (context, path) and must not disturb scan pushdown: an
    equality filter still reaches PushedFilters in the formatted plan."""
    from bigdatanycdiseasesurveillance_spark.tables import (
        _SCHEMA_MEMO,
        raw_parquet_schema,
        table,
    )

    path = f"{sf_dir}/events.parquet"
    s1 = raw_parquet_schema(spark, path)
    s2 = raw_parquet_schema(spark, path)
    assert s1 is s2  # memo hit, no second inference
    # key = (applicationId, path, (mtime_ns, size)) — a regenerated
    # fixture at the same path re-infers instead of serving a stale schema
    st = os.stat(path)
    assert (
        spark.sparkContext.applicationId,
        path,
        (st.st_mtime_ns, st.st_size),
    ) in _SCHEMA_MEMO

    df = table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters" in plan and "event_type" in plan


def test_memos_keep_only_the_live_context(spark, sf_dir):
    """The schema memo and the IVF index memo drop the entries of every
    other SparkContext, on a memo hit as well as on a miss."""
    from bigdatanycdiseasesurveillance_spark.queries import similarity_q
    from bigdatanycdiseasesurveillance_spark.tables import _SCHEMA_MEMO, table

    app = spark.sparkContext.applicationId
    for _ in range(2):  # a miss (maybe), then a hit
        stale = ("local-stopped-context", f"{sf_dir}/events.parquet", None)
        _SCHEMA_MEMO[stale] = object()
        table(spark, sf_dir, "events")
        assert stale not in _SCHEMA_MEMO
        assert {k[0] for k in _SCHEMA_MEMO} == {app}

        stale = ("local-stopped-context", sf_dir)
        similarity_q._IVF_INDEX[stale] = object()
        similarity_q._ivf_index(spark, sf_dir)
        assert stale not in similarity_q._IVF_INDEX
        assert {k[0] for k in similarity_q._IVF_INDEX} == {app}
