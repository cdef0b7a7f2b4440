"""Streaming semantics checks beyond the oracle gate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.queries import streaming_extra_q as SX
from bigdatanycdiseasesurveillance_spark.queries import streaming_q as SQ
from bigdatanycdiseasesurveillance_spark.streaming import pipelines as P
from bigdatanycdiseasesurveillance_spark.tables import table


def test_stream_batch_schema_parity(spark, sf_dir):
    src = P.stream_table(spark, sf_dir, "events")
    assert src.isStreaming
    assert src.schema == table(spark, sf_dir, "events").schema


def test_streaming_daily_equals_batch(spark, sf_dir):
    got = {
        (r["day"], r["event_type"]): r["cnt"]
        for r in SQ.stream_daily_counts(spark, sf_dir).collect()
    }
    want = {
        (r["day"], r["event_type"]): r["cnt"]
        for r in table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
        )
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want


def test_sessionize_positive_counts(spark, sf_dir):
    out = SQ.stream_sessionize(spark, sf_dir).collect()
    assert len(out) > 0
    assert all(r["n_sessions"] >= 1 for r in out)


def test_multi_sink_fanout(spark, sf_dir, tmp_path):
    """ST5: one analyzed stream feeding two independent sinks (the
    reference's relevant/irrelevant JSON split) — both drain with
    availableNow and partition the input exactly."""
    src = P.stream_table(spark, sf_dir, "events")
    analyzed = src.withColumn("flagged", F.col("event_type") == "error")
    qs = []
    for flag, sub in ((True, "flagged"), (False, "clean")):
        out = tmp_path / sub
        qs.append(
            analyzed.filter(F.col("flagged") == flag)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{sub}"))
            .trigger(availableNow=True)
            .start()
        )
    for q in qs:
        q.awaitTermination()
    total = table(spark, sf_dir, "events").count()
    n_flagged = spark.read.parquet(str(tmp_path / "flagged")).count()
    n_clean = spark.read.parquet(str(tmp_path / "clean")).count()
    assert n_flagged + n_clean == total
    assert n_flagged == table(spark, sf_dir, "events").filter("event_type = 'error'").count()


def test_watermark_drops_late_rows(spark, tmp_path):
    """ST7 semantics pin: with a 10-minute watermark on 1-hour windows,
    a row arriving after the watermark passed its window is dropped from
    the append-mode result; an in-watermark late row is counted."""
    import json

    d = tmp_path / "stream_src"
    d.mkdir()
    base = [
        {"k": "a", "ts": "2024-01-01T00:05:00"},
        {"k": "a", "ts": "2024-01-01T00:20:00"},
        {"k": "a", "ts": "2024-01-01T03:00:00"},  # advances watermark to 02:50
    ]
    late = [
        {"k": "a", "ts": "2024-01-01T02:55:00"},  # within watermark -> kept
        {"k": "a", "ts": "2024-01-01T00:30:00"},  # window [00:00,01:00) closed -> dropped
    ]
    (d / "f0.jsonl").write_text("\n".join(json.dumps(r) for r in base))
    schema = "k string, ts timestamp"
    src = spark.readStream.schema(schema).json(str(d))
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .count()
    )
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "wm_out")

    def drain():
        q = (
            agg.select(F.col("w.start").alias("w_start"), "k", "count")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # batch 1: base rows; watermark advances to 02:50
    (d / "f1.jsonl").write_text("\n".join(json.dumps(r) for r in late))
    drain()  # batch 2: one late-but-allowed row, one too-late row
    # append mode emits only closed windows: [00:00,01:00) closes (end <
    # watermark 02:50) with count 2 — its 00:30 straggler arrived after
    # the close and was DROPPED; the 02:55 row sits in a still-open
    # window, so nothing else is emitted
    rows = {
        (str(r["w_start"]), r["count"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert rows == {("2024-01-01 00:00:00", 2)}


def test_sessionize_multibatch_equals_batch(spark, tmp_path):
    """VERDICT guard: the update-mode memory-sink 'keep the max' rule
    must survive MULTI-batch input, not just the one-file availableNow
    case. Two parquet files forced into separate micro-batches
    (maxFilesPerTrigger=1) must reproduce the batch lag/cumsum
    sessionization, and the sink must show multiple emissions per user
    (proving >1 batch actually ran)."""
    import os
    import time
    import uuid as _uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_min = 30
    d = tmp_path / "events_src"
    d.mkdir()
    # file A then file B, B strictly later in event time (drain-and-stop
    # arrival-order contract); user 1 appears in both batches.
    hour = 3600
    batch_a = [(1, 0.0), (1, 600.0), (2, 0.0)]
    batch_b = [(1, 2 * hour * 1.0), (2, 900.0), (2, 3 * hour * 1.0)]
    for name, rows in (("a", batch_a), ("b", batch_b)):
        spark.createDataFrame(rows, "user_id long, ts_sec double").coalesce(
            1
        ).write.parquet(str(d / name))
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    src = (
        spark.readStream.schema("user_id long, ts_sec double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    sessions = src.groupBy("user_id").applyInPandasWithState(
        SQ._make_sessionizer(gap_min * 60.0),
        SQ.SESSION_SCHEMA,
        SQ.SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    name = f"mb_{_uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    raw = spark.table(name).collect()

    # multiple emissions per user proves the stream really ran >1 batch
    n_users = len({r["user_id"] for r in raw})
    assert len(raw) > n_users, f"expected multi-batch emissions, got {raw}"

    got = {}
    for r in raw:  # keep-the-max rule under test
        got[r["user_id"]] = max(got.get(r["user_id"], 0), r["n_sessions"])

    # batch oracle: sessions = 1 + count(gaps > gap) over time-sorted events
    events: dict[int, list[float]] = {}
    for u, t in batch_a + batch_b:
        events.setdefault(u, []).append(t)
    want = {}
    for u, ts in events.items():
        ts = sorted(ts)
        want[u] = 1 + sum(
            1 for i in range(1, len(ts)) if ts[i] - ts[i - 1] > gap_min * 60
        )
    assert got == want, f"stream {got} != batch {want}"


def test_dedup_within_watermark_drops_cross_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark must drop a duplicate key arriving
    in a LATER micro-batch while its event time is inside the watermark
    delta — the cross-batch guarantee plain batch distinct can't model
    and unbounded dropDuplicates pays for with immortal state."""
    import time
    import uuid as _uuid

    d = tmp_path / "dup_src"
    d.mkdir()
    schema = "event_id long, ts timestamp, event_type string"
    base = "2024-01-01 10:{m:02d}:00"
    batch_a = [
        (1, base.format(m=0), "click"),
        (2, base.format(m=1), "view"),
    ]
    # event 1 repeats 5 minutes later (inside the 1h delta) in batch B;
    # event 3 is genuinely new
    batch_b = [
        (1, base.format(m=5), "click"),
        (3, base.format(m=6), "view"),
    ]
    for name, rows in (("a", batch_a), ("b", batch_b)):
        spark.createDataFrame(
            [(i, __import__("datetime").datetime.fromisoformat(t), e) for i, t, e in rows],
            schema,
        ).coalesce(1).write.parquet(str(d / name))
        time.sleep(1.1)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    deduped = src.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = f"ddw_{_uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ddw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["event_id"] for r in spark.table(name).collect())
    assert got == [1, 2, 3], got


def test_stream_stream_join_equals_batch_range_join(spark, sf_dir):
    """The watermarked stream-stream join must equal the batch time-range
    join on the same drained input."""
    got = {
        (r["user_id"], r["n_attributed"])
        for r in SQ.stream_click_attribution(spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    want = {
        (r["cu"], r["n"])
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("cu")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert got == want


def test_outer_join_multibatch_timeout_emission(spark, tmp_path):
    """Pin the LEFT OUTER stream-stream join's two load-bearing
    behaviors across REAL micro-batch boundaries (maxFilesPerTrigger=1):
    a click whose purchase arrives in a LATER batch still matches
    (state carries across batches), and a click with no purchase is
    emitted with NULLs once the watermark passes c_ts + 1h (timeout
    emission in the final no-data batch)."""
    import time
    import uuid as _uuid

    hour = 3600
    base = 100 * 86400  # away from epoch 0: the initial watermark IS
    # 1970-01-01, and rows with event time <= watermark drop as late
    d = tmp_path / "ev_src"
    d.mkdir()
    # batch A: clicks only. C1/u1 matches later; C3/u3 never matches.
    batch_a = [
        (1, base + 0, "click", 101),
        (3, base + 0, "click", 301),
    ]
    # batch B: u1's purchase (cross-batch match) + tail rows on BOTH
    # sides at t=8h to push both side watermarks past every batch-A row.
    batch_b = [
        (1, base + 1800, "purchase", 901),
        (9, base + 8 * hour, "click", 999),
        (9, base + 8 * hour, "purchase", 998),
    ]
    for name, rows in (("a", batch_a), ("b", batch_b)):
        spark.createDataFrame(
            rows, "user_id long, t long, event_type string, event_id long"
        ).withColumn("ts", F.timestamp_seconds(F.col("t"))).drop("t").coalesce(
            1
        ).write.parquet(str(d / name))
        time.sleep(1.1)

    src = (
        spark.readStream.schema("user_id long, event_type string, event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    joined = SQ._click_purchase_join(src, "leftOuter")
    name = f"oj_{_uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["click_id"], r["purchase_id"])
        for r in spark.table(name).collect()
        if r["click_id"] is not None
    }
    # cross-batch match: C1 paired with the batch-B purchase
    assert (101, 901) in rows
    # timeout emission: C3 emitted unmatched after watermark passage
    assert (301, None) in rows


def test_user_totals_state_tiers_agree(spark, sf_dir):
    """stream_user_totals' keyed applyInPandasWithState totals must
    equal the batch groupBy."""
    from bigdatanycdiseasesurveillance_spark.registry import all_specs
    from bigdatanycdiseasesurveillance_spark.tables import table

    got = {
        (r["user_id"], r["n_events"], r["sum_cents"])
        for r in all_specs()["stream_user_totals"].fn(spark, sf_dir).collect()
    }
    want = {
        (r["user_id"], r["n_events"], r["sum_cents"])
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        .collect()
    }
    assert got == want


def test_foreachbatch_upsert_writes_one_gold_version_per_batch(spark, sf_dir, tmp_path):
    """The foreachBatch MERGE must actually cross micro-batch
    boundaries: 4 staged files + maxFilesPerTrigger=1 -> 4 committed
    gold versions, and the final version equals the batch
    last-writer-wins result."""
    from pyspark.sql import functions as F

    from bigdatanycdiseasesurveillance_spark.sources.sinks import (
        latest_gold_version,
    )
    from bigdatanycdiseasesurveillance_spark.tables import table

    gold = str(tmp_path / "gold")
    out = SX.stream_foreachbatch_upsert(spark, sf_dir, gold_dir=gold)
    assert latest_gold_version(gold) == 4

    e = table(spark, sf_dir, "events")
    expected = (
        e.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s"))
        .select(
            "user_id",
            F.col("s.event_type").alias("last_type"),
            F.col("s.ts").alias("last_ts"),
            F.round("s.value", 2).alias("last_value"),
        )
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want


def test_foreachbatch_upsert_checkpoint_prevents_reprocessing(spark, sf_dir, tmp_path):
    """Exactly-once contract: a second availableNow drain with the SAME
    checkpoint and the SAME staged source commits NOTHING new — the
    committed offsets cover every file, so the gold version count is
    unchanged (a reprocessing bug would append versions 5..8)."""
    from bigdatanycdiseasesurveillance_spark.sources.sinks import (
        latest_gold_version,
    )

    gold, stage, ckpt = (str(tmp_path / d) for d in ("gold", "stage", "ckpt"))
    SX.stream_foreachbatch_upsert(
        spark, sf_dir, gold_dir=gold, stage_dir=stage, checkpoint_dir=ckpt
    )
    assert latest_gold_version(gold) == 4
    SX.stream_foreachbatch_upsert(
        spark, sf_dir, gold_dir=gold, stage_dir=stage, checkpoint_dir=ckpt
    )
    assert latest_gold_version(gold) == 4


def test_restart_recovery_counts_and_structure(spark, sf_dir):
    """ST3: the killed-and-resumed checkpointed query equals the batch
    COUNT(DISTINCT) — cross-restart duplicates absorbed by RESTORED
    dedup state, batch-1 contributions carried by RESTORED agg state.
    The pipeline's internal asserts cover the structural half (resumed
    input == batch-2 rows, offset log spans both runs); a state-losing
    restart would double-count the re-sent third and fail here."""
    from pyspark.sql import functions as F

    from bigdatanycdiseasesurveillance_spark.tables import table

    got = {
        (r["event_type"], r["n_distinct_events"])
        for r in SQ.stream_restart_recovery(spark, sf_dir).collect()
    }
    want = {
        (r["event_type"], r["n"])
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("event_id").alias("n"))
        .collect()
    }
    assert got == want


def test_run_to_memory_state_partitions_override_and_restore(spark, sf_dir):
    """Dim-bounded state sizing: _run_to_memory(state_partitions=N) must
    bake N into the streaming aggregate's state layout (complete-mode
    output is unchanged) and restore the session conf afterwards — a later
    batch query must plan with the original shuffle partitioning."""
    src = P.stream_table(spark, sf_dir, "events")
    agg = src.groupBy("event_type").agg(F.count("*").cast("long").alias("cnt"))
    # read AFTER stream_table: building the source applies the session's
    # runtime confs (incl. shuffle partitions), which is the value the
    # drain must restore
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = {
        r["event_type"]: r["cnt"]
        for r in P._run_to_memory(agg, "complete", state_partitions=3).collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    exp = {
        r["event_type"]: r["cnt"]
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("cnt"))
        .collect()
    }
    assert out == exp


def _checkpoint_dirs() -> set[str]:
    import tempfile

    return {d for d in os.listdir(tempfile.gettempdir()) if d.startswith("bdnds_ckpt_")}


def test_run_to_memory_removes_its_checkpoint(spark, sf_dir):
    """A drain leaves no checkpoint directory behind: the memory sink
    holds the result once the availableNow run ends."""
    before = _checkpoint_dirs()
    src = P.stream_table(spark, sf_dir, "events").select("event_id")
    out = P._run_to_memory(src, "append")
    assert out.count() == table(spark, sf_dir, "events").count()
    assert _checkpoint_dirs() - before == set()


def test_run_to_memory_removes_its_checkpoint_when_start_fails(spark, sf_dir):
    """A drain whose query fails to start cleans up too: complete mode
    needs an aggregate, so start() raises."""
    import pytest
    from pyspark.errors import AnalysisException

    before = _checkpoint_dirs()
    src = P.stream_table(spark, sf_dir, "events").select("event_id")
    with pytest.raises(AnalysisException):
        P._run_to_memory(src, "complete")
    assert _checkpoint_dirs() - before == set()


def test_drains_leave_no_temp_view(spark, sf_dir):
    """The memory sink registers a temp view; a drain drops it once the
    returned frame has resolved it, and that frame (and one derived
    from it) still reads the sink's rows."""
    before = spark.catalog.listTables()
    src = P.stream_table(spark, sf_dir, "events").select("event_id")
    n_rows = P._run_to_memory(src, "append").count()
    counts = SQ.stream_dedup_counts(spark, sf_dir).collect()
    SQ.stream_restart_recovery(spark, sf_dir)
    assert spark.catalog.listTables() == before
    ev = table(spark, sf_dir, "events")
    assert n_rows == ev.count()
    assert sum(r["n_distinct_events"] for r in counts) == ev.select("event_id").distinct().count()
