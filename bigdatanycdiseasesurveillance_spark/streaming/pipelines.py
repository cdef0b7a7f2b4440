"""Streaming pipelines re-expressing the reference's consumer chain
(SURVEY §2.9).

The reference's streaming layer is Kafka -> Python-UDF -> JSON files,
with a hand-rolled poll loop that stops after 3 empty batches
(reference: src/spark_consumers/relevance_consumer.py:348-506) and
driver-RAM dedup state (deduplication_consumer.py:107-110). Here:

- drain-and-stop      -> trigger(availableNow=True)          (ST4)
- multi-sink fanout   -> independent writeStream queries     (ST5)
- stateful dedup      -> withWatermark + dropDuplicates      (ST6)
- custom state        -> applyInPandasWithState sessionizer
                         and per-user totals                 (ST6)
- event-time windows  -> window() aggregation + watermark    (ST7)

File-source streams stand in for Kafka topics (same DataFrame API
surface; `kafka_source` below builds the real thing). Each pipeline
returns a *batch* DataFrame of the final result so the correctness
driver can compare it against a SQL oracle.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sql_text import slit, str_array
from ..functions.time_funcs import epoch_sec
from ..tables import normalize_timestamps, table


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one parquet table. Schema comes from the
    batch reader (streaming sources require explicit schemas — the
    reference leans on schemaInference, SURVEY §1.2 flags that as a
    smell). Event-time normalization (bigint-ns / TIMESTAMP_NTZ →
    TimestampType) matches tables.table()."""
    batch = table(spark, sf_dir, name)  # also applies runtime confs
    from ..tables import raw_parquet_schema

    raw_schema = raw_parquet_schema(spark, f"{sf_dir}/{name}.parquet")
    # file streams need a directory; pathGlobFilter selects the table
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    src = normalize_timestamps(src)
    assert src.schema == batch.schema, "stream/batch schema drift"
    return src


def _run_to_memory(
    stream_df: DataFrame, output_mode: str, state_partitions: int | None = None
) -> DataFrame:
    """Drain a stream into an in-memory table with availableNow (ST4's
    idiomatic drain-and-stop) and return it as a batch DataFrame.

    ``state_partitions``: shuffle-partition count baked into the
    query's STATE layout at start (r13). A stateful aggregate whose key
    space is dim-bounded (e.g. boroughs x severities, ~18 rows at ANY
    corpus size) gains nothing from cluster-width state: every state
    partition is a live state-store instance (init + per-batch commit
    + checkpoint delta), and an interleaved A/B at sf0.1 measured the
    32-store layout at 3.6 s vs 1.7 s for a handful of stores. Sizing
    state to the KEY SPACE, not the cluster, is the production rule
    too — this is not a local[32] tune (the value is only passed for
    dim-bounded aggregates, never event-keyed state). The conf is
    restored after the drain; batch queries planned afterwards are
    unaffected.

    r14 audit of all drains — state_partitions is passed ONLY where the
    key space is provably bounded AND no corpus-keyed shuffle shares the
    streaming query (the conf is query-wide): daily/hopping counts
    (calendar windows x types), relevance_split (2 x severities),
    enrich_orders (5 segments, broadcast join), cms (fixed sketch
    cells), variant_ingest (event types), surveillance_e2e (boroughs x
    severities). Deliberately cluster-width: dedup_counts /
    dedup_within_watermark / restart_recovery (event_id dedup state),
    session_windows / sessionize / user_totals (user-keyed state),
    click_purchase_join / click_abandonment (event-keyed join state),
    ingest_dedup (corpus-sized fp anti-join shares the query),
    foreachbatch_upsert (per-batch user-keyed shuffles)."""
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # the memory sink holds the result once the availableNow run ends,
    # so the checkpoint is not needed after it, on any path out
    ckpt = tempfile.mkdtemp(prefix="bdnds_ckpt_")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def streaming_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7: event-time tumbling-window daily aggregation over the event
    stream; availableNow drain; returns (day, event_type, cnt) equal to
    the batch daily rollup."""
    src = stream_table(spark, sf_dir, "events")
    agg = (
        src.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    # key space = days x event types — calendar/retention-bounded (never
    # corpus-bounded), and the only shuffle is the bounded-key aggregate
    # itself (map-side partials emit <= keys rows per task), so state
    # sized to the key space is right at any cluster width (r14, the
    # e2e drain's r13 device)
    out = _run_to_memory(agg, "complete", state_partitions=8)
    return out.select(
        F.col("w.start").cast("date").alias("day"), "event_type", "cnt"
    )


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 (exact tier): watermarked streaming dropDuplicates on the
    event key — the checkpointed replacement for the reference's
    driver-RAM seen-hashes set. Returns per-type distinct-event counts."""
    src = stream_table(spark, sf_dir, "events")
    deduped = src.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    out = _run_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(F.count("*").alias("n_distinct_events"))


def streaming_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 sliding tier: 6-hour hopping windows every 3 hours over the
    event stream (each event in exactly 2 windows), watermarked,
    complete-mode availableNow drain — the streaming twin of the batch
    agg_hopping_windows query."""
    src = stream_table(spark, sf_dir, "events")
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    # key space = hop windows x types — calendar-bounded (~8 windows/day
    # x types); sole shuffle is the bounded-key aggregate (r14)
    out = _run_to_memory(agg, "complete", state_partitions=8)
    return out.select(
        F.col("w.start").alias("win_start"), "event_type", "cnt"
    )


def streaming_session_windows(
    spark: SparkSession, sf_dir: str, gap_hours: int = 24
) -> DataFrame:
    """ST7 built-in tier: F.session_window aggregation over the event
    stream (gap-based event-time sessions, the engine-managed state
    alternative to the applyInPandasWithState sessionizer below).
    Complete mode + availableNow drain, like streaming_daily_counts, so
    the final table carries every closed-and-open session. Returns
    (user_id, session_start, session_end, n_events, sum_value) equal to
    the batch lag/cumsum island detection."""
    src = stream_table(spark, sf_dir, "events")
    agg = src.groupBy(
        "user_id", F.session_window("ts", f"{gap_hours} hours").alias("sw")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        # decimal accumulation, matching the batch twin and the shared
        # oracle (_SESSION_ORACLE): double money sums are summation-
        # order-dependent (r7 sf1-audit bug class)
        F.round(F.sum(F.col("value").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("sum_value"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


SESSION_SCHEMA = "user_id long, n_sessions long"
SESSION_STATE_SCHEMA = "n_sessions long, last_ts double"


def _make_sessionizer(gap_seconds: float):
    """Closure (pickle-by-value — executors don't import this repo).
    Counts sessions per user with a fixed inactivity gap. With
    availableNow over one file the stream is a single ordered batch per
    group, so results equal the batch lag/cumsum sessionization."""

    def fn(key, pdf_iter, state):
        import pandas as _pd

        if state.exists:
            n_sessions, last_ts = state.get
        else:
            n_sessions, last_ts = 0, None
        # accumulate ALL chunks before sorting — pdf_iter yields a group
        # in multiple Arrow batches with no cross-chunk ordering
        ts_all: list[float] = []
        for pdf in pdf_iter:
            ts_all.extend(pdf["ts_sec"].tolist())
        for t in sorted(ts_all):
            if last_ts is None or (t - last_ts) > gap_seconds:
                n_sessions += 1
            last_ts = t
        state.update((n_sessions, last_ts if last_ts is not None else -1.0))
        yield _pd.DataFrame([{"user_id": key[0], "n_sessions": n_sessions}])

    return fn


def streaming_sessionize(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """ST6 (custom state): applyInPandasWithState sessionization — the
    engine's replacement for the reference's process-local caches, with
    checkpointed state. Returns (user_id, n_sessions)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = stream_table(spark, sf_dir, "events").select(
        "user_id", epoch_sec("ts").alias("ts_sec")
    )
    sessions = src.groupBy("user_id").applyInPandasWithState(
        _make_sessionizer(gap_minutes * 60.0),
        SESSION_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(sessions, "update")
    # update-mode memory sink appends one row per (user, micro-batch)
    # emission. n_sessions is CUMULATIVE per user (state carries it
    # across batches), so max() == the final emission under any number
    # of micro-batches — not just the single-batch availableNow case.
    # Multi-batch equivalence with batch sessionization is pinned by
    # tests/test_streaming.py::test_sessionize_multibatch_equals_batch.
    return out.groupBy("user_id").agg(F.max("n_sessions").alias("n_sessions"))


def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 (arbitrary keyed state): per-user lifetime event count and
    exact cents total via applyInPandasWithState in update mode. Each
    micro-batch emits cumulative totals, so max() per user is the final
    emission under any batch split (same convergence argument as
    streaming_sessionize)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = stream_table(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    )

    def fn(key, pdf_iter, state):
        import pandas as _pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
        state.update((n, cents))
        yield _pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "sum_cents": cents}]
        )

    totals = src.groupBy("user_id").applyInPandasWithState(
        fn,
        "user_id BIGINT, n_events BIGINT, sum_cents BIGINT",
        "n BIGINT, cents BIGINT",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(totals, "update")
    return out.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.max("sum_cents").cast("long").alias("sum_cents"),
    )


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topics: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1: the reference's Kafka source shape (6 topics, value cast to
    string — relevance_consumer.py:364-373). Not exercised in tests (no
    broker in the harness); the value-parsing contract is the same
    from_json path the file sources use."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
        .selectExpr("CAST(value AS STRING) AS json_str", "timestamp")
    )


def streaming_relevance_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1/ST5: relevance scoring on a document stream, aggregated into
    (is_relevant, severity) counts — the streaming form of the
    reference's relevance consumer with its relevant/irrelevant fanout
    (relevance_consumer.py:447-474) collapsed into one grouped sink."""
    from ..operators.relevance import extract_relevance

    src = stream_table(spark, sf_dir, "documents")
    analyzed = extract_relevance(src)
    agg = analyzed.groupBy("is_relevant", "severity").agg(
        F.count("*").cast("long").alias("cnt")
    )
    # key space = 2 x severity levels (~10 rows at ANY corpus size);
    # extract_relevance is stateless map-side work (r14)
    return _run_to_memory(agg, "complete", state_partitions=4).select(
        "is_relevant", "severity", "cnt"
    )


def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked inner join (the operator family the
    reference approximates with driver-side correlation buffers):
    purchases attributed to a click by the same user within the hour.

    Both sides carry watermarks and the join condition bounds p_ts in
    [c_ts, c_ts + 1h], so the state store can evict a click row as soon
    as the purchase-side watermark passes c_ts + 1h — bounded state at
    any stream length, the property the driver-RAM approach lacks.
    Returns (user_id, n_attributed) pair counts."""
    ev = stream_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 1 HOUR"
        ),
    )
    out = _run_to_memory(joined, "append")
    return (
        out.groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count("*").cast("long").alias("n_attributed"))
    )


def streaming_click_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER watermarked join — the timeout-emission
    tier the inner join above lacks: a click with no purchase in its
    1-hour window is emitted with a NULL purchase once the watermark
    passes c_ts + 1h (funnel abandonment, computed incrementally with
    bounded state; the reference's driver-RAM correlation buffers can't
    produce the negative rows at all).

    availableNow drains run a final no-data batch after the last data
    batch, so the closing watermark flushes the unmatched state. The
    GLOBAL watermark is the min over both sides' (per-side max ts -
    1h), and a click evicts once that passes c_ts + 1h — so only clicks
    older than min(max click ts, max purchase ts) - 2h are guaranteed
    emitted. The OUTPUT keeps clicks <= that min - 3h (1h margin),
    mirrored by interval arithmetic in the oracle — without the cutoff
    the tail rows would depend on where the drain stopped, not on the
    data. The cutoff must NOT filter the click stream itself: that
    would drag the click-side watermark back by the cutoff amount and
    near-cutoff state would never evict."""
    import datetime as dt

    ev_b = table(spark, sf_dir, "events")
    side_max = ev_b.groupBy().agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    ).first()
    cutoff = min(side_max["c"], side_max["p"]) - dt.timedelta(hours=3)
    ev = stream_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 1 HOUR"
        ),
        "leftOuter",
    )
    out = _run_to_memory(joined, "append").filter(F.col("c_ts") <= F.lit(cutoff))
    # a click emits >=1 matched rows XOR exactly one NULL-purchase row
    return out.groupBy(F.col("c_user").alias("user_id")).agg(
        F.countDistinct(
            F.when(F.col("purchase_id").isNotNull(), F.col("click_id"))
        ).cast("long").alias("n_converted"),
        F.count(F.when(F.col("purchase_id").isNull(), 1))
        .cast("long")
        .alias("n_abandoned"),
    )


def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST6 (bounded-state tier): dropDuplicatesWithinWatermark — unlike
    plain streaming dropDuplicates (whose key state lives forever),
    state for a key is evicted once the watermark passes its event time
    + delta, so memory is bounded by the dup-arrival window, not the
    key space. The cross-micro-batch drop guarantee is pinned in
    tests/test_streaming.py with crafted duplicate batches."""
    src = stream_table(spark, sf_dir, "events")
    deduped = src.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = _run_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_distinct_events")
    )


def streaming_enrich_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the order stream enriched with the static
    customer dim (broadcast — no state store involvement at all: the
    static side is re-resolvable per micro-batch, the Spark-native form
    of the reference's per-batch Postgres lookups). Revenue rolls up by
    market segment in exact BIGINT cents."""
    src = stream_table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = src.join(F.broadcast(c), src.o_custkey == c.c_custkey)
    agg = enriched.groupBy("c_mktsegment").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
        F.count("*").cast("long").alias("n_orders"),
    )
    # key space = 5 market segments; the enrich join is broadcast (no
    # stream-side shuffle), so only the dim-bounded agg state exists (r14)
    return _run_to_memory(agg, "complete", state_partitions=4).select(
        "c_mktsegment", "revenue_cents", "n_orders"
    )


def streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 sketch tier: maintain a count-min sketch over the event
    stream. cms_table's plan (bucket projection -> explode -> groupBy)
    is stateless until the aggregation, whose state is the sketch itself
    — depth x width rows, FIXED regardless of stream volume: the
    streaming-native answer to frequency tracking where per-key state
    would grow without bound. Complete-mode availableNow drain equals
    the batch sketch exactly."""
    from ..operators.sketches import cms_table

    src = stream_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_key")
    )
    agg = cms_table(src, "user_key", width=32, depth=4)
    # key space = depth x width sketch cells (128 rows, FIXED by the
    # sketch dimensions regardless of stream volume) (r14)
    return _run_to_memory(agg, "complete", state_partitions=4)


def _prefix_fp(text: str, k: int = 8):
    """Lead-in fingerprint: md5 of the first k whitespace tokens of the
    normalized text — the boilerplate/header dedup key (full-text md5
    catches only byte-exact copies; templated corpora share lead-ins)."""
    from ..functions.text_funcs import tokens

    return F.expr(f"md5(concat_ws(' ', slice({tokens(text)}, 1, {k})))")


def streaming_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static anti-join dedup at ingest: arriving documents
    (the doc_id % 5 == 0 delta as the stream) are lead-in-fingerprinted
    and anti-joined against the EXISTING corpus's fingerprint set (a
    static table — at scale, the maintained dedup index), so only
    documents with an unseen lead-in survive to the per-source rollup.
    Static-side state never grows with the stream; the anti-join is
    per-micro-batch. The 8-token prefix key is what makes the filter
    bite on a templated corpus (full-text md5 would pass everything —
    the corpus has no byte-exact dups)."""
    from ..tables import table as _table

    src = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    existing = (
        _table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 != 0)
        .select(_prefix_fp("text").alias("fp"))
        .distinct()
    )
    fresh = src.withColumn("fp", _prefix_fp("text")).join(
        existing, "fp", "left_anti"
    )
    agg = fresh.groupBy("source").agg(F.count("*").cast("long").alias("n_new"))
    return _run_to_memory(agg, "complete")


def streaming_foreachbatch_upsert(
    spark: SparkSession,
    sf_dir: str,
    gold_dir: str | None = None,
    stage_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """ST4 + S11 composition: per-micro-batch MERGE into a versioned
    gold table via foreachBatch — the production streaming-upsert idiom
    (Delta's `foreachBatch + MERGE`, expressed over the engine's
    versioned-parquet gold sink). The source is staged into four files
    and streamed with maxFilesPerTrigger=1, so the merge crosses REAL
    micro-batch boundaries and the gold table is rewritten once per
    batch (version=N+1, _SUCCESS-gated — a mid-merge crash leaves the
    previous committed version readable).

    Winner selection inside and across batches compares the DATA
    ordering (ts, event_id), never arrival order, so the final table
    equals the batch last-writer-wins result for ANY batching — that is
    the invariant that makes a streaming upsert replayable.

    Reference: the upsert loop in src/database/psql_db_client.py:369-417
    (per-row ON CONFLICT DO UPDATE), distributed.

    `gold_dir` is exposed so tests can assert the per-batch version
    trail (one committed gold version per micro-batch). The staging
    write exists only to manufacture real micro-batches in the sandbox
    (one parquet table = one availableNow batch otherwise); production
    points the readStream at the actual landing directory and stages
    nothing."""
    import tempfile

    from ..sources import sinks as SK

    ev = table(spark, sf_dir, "events")
    stage = stage_dir or tempfile.mkdtemp(prefix="bdnds_fbu_stage_")
    gold = gold_dir or tempfile.mkdtemp(prefix="bdnds_fbu_gold_")
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        ev.repartition(4).write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(stage).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )

    def latest_per_user(df: DataFrame) -> DataFrame:
        # arg-max by (ts, event_id): struct comparison is field-ordered
        # and event_id is unique, so the winner is deterministic; a
        # partial-aggregable max, no window
        return (
            df.groupBy("user_id")
            .agg(
                F.max(
                    F.struct("ts", "event_id", "event_type", "value")
                ).alias("s")
            )
            .select("user_id", "s.ts", "s.event_id", "s.event_type", "s.value")
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        new = latest_per_user(batch_df)
        if SK.latest_gold_version(gold) > 0:
            old = SK.read_latest_gold(batch_df.sparkSession, gold)
            new = latest_per_user(old.unionByName(new))
        SK.write_gold_version(new, gold)

    q = (
        src.writeStream.foreachBatch(upsert)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="bdnds_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return SK.read_latest_gold(spark, gold).select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("ts").alias("last_ts"),
        F.round("value", 2).alias("last_value"),
    )


def streaming_surveillance_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE consumer chain as ONE streaming DAG
    (relevance_consumer -> location_consumer -> dashboard rollup;
    reference: src/spark_consumers/*.py run as separate Kafka consumers
    with JSON-file handoffs): documents stream in, relevance extraction
    runs as pure column expressions on the micro-batches, irrelevant
    records drop, survivors are location-enriched (zip-prefix broadcast
    dim + text-alias scan — the doc stream's available signals), and
    the dashboard aggregate (borough x severity counts) maintains
    itself incrementally. No intermediate files, no per-stage consumer
    processes, one watermark-free complete-mode aggregate whose state
    is boroughs x severities rows.

    Scale: relevance/enrichment are stateless map-side work; the only
    stream state is the final tiny aggregate; the static dims broadcast
    as LocalRelations (no job)."""
    from ..domain.location import ALIASES, _NB_BOROUGH, borough_zip_dim
    from ..operators.relevance import extract_relevance

    src = stream_table(spark, sf_dir, "documents")
    rel = extract_relevance(src)
    zips = ["11102", "11211", "10027", "10003", "10463", "11354", "99999", "10550"]
    alias_case = "CASE " + " ".join(
        f"WHEN instr(lower(text), {slit(a)}) > 0 THEN {slit(_NB_BOROUGH[n])}"
        for a, n in ALIASES
    ) + " ELSE NULL END"
    agg = spark.sql(
        f"""
        SELECT /*+ BROADCAST(p) */
               coalesce(p.borough, r.alias_borough, 'unknown') AS borough,
               r.severity, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT severity,
                     element_at({str_array(zips)}, CAST(doc_id % 8 + 1 AS INT)) AS zip,
                     {alias_case} AS alias_borough
              FROM {{rel}} WHERE is_relevant) r
        LEFT JOIN {{bz}} p ON substring(r.zip, 1, 3) = p.zip_prefix
        GROUP BY coalesce(p.borough, r.alias_borough, 'unknown'), r.severity""",
        rel=rel,
        bz=borough_zip_dim(spark),
    )
    # state key space = boroughs x severities (~18 rows at any corpus
    # size) — size the state layout to the key space, not the cluster
    # (see _run_to_memory)
    return _run_to_memory(agg, "complete", state_partitions=4)


def streaming_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3/ST6 restart-recovery proof: kill a checkpointed stateful
    query mid-stream and resume it against a grown source with the SAME
    checkpoint directory; the final counts must equal the batch oracle.

    The reference's dedup state lives in driver RAM and is lost on every
    restart (deduplication_consumer.py:107-110) — SURVEY §7.4.5 claims
    the checkpointed engine form is "strictly more correct after
    restart", and until this entry that claim was asserted, not proven.

    Mechanics: batch 1 (event_id % 3 in {0,1}) is written to a scratch
    source dir and drained by query #1 (availableNow) — its termination
    IS the mid-stream kill, with dedup+agg state persisted to the
    checkpoint. Batch 2 (event_id % 3 in {1,2} — the %3==1 slice
    intentionally re-sent as cross-restart duplicates) is appended, and
    query #2 starts from the SAME checkpoint. Recovery is then proven
    two ways:

    - value: complete-mode counts equal COUNT(DISTINCT event_id) over
      the FULL corpus — possible only if the restored dropDuplicates
      state absorbs the re-sent slice and the restored agg state still
      carries batch 1 (state loss would double-count %3==1);
    - structure: query #2's input rows == batch-2 rows exactly (the
      checkpoint's file-source log marks batch 1 committed — a fresh
      start would re-read it), and the checkpoint's offset log spans
      both runs. Both assert loudly.

    The 100 TB shape: restart-recovery cost is O(state) not O(history) —
    the checkpoint restores HDFS-backed state and the committed-file
    log, so a resumed ingest never rescans the corpus."""
    import os

    from ..queries.dedup_extra_q import _gold_scratch_dir

    ev = table(spark, sf_dir, "events")
    scratch = _gold_scratch_dir(sf_dir, "restart")
    src_dir, ckpt_dir = os.path.join(scratch, "src"), os.path.join(scratch, "ckpt")

    batch1 = ev.filter(F.col("event_id") % 3 != 2)
    batch2 = ev.filter(F.col("event_id") % 3 != 0)
    batch1.write.parquet(src_dir)  # scratch is fresh — first write creates

    schema = spark.read.parquet(src_dir).schema

    def start_pass():
        src = spark.readStream.schema(schema).parquet(src_dir)
        agg = (
            # a never-advancing watermark: nothing evicts, nothing is
            # "late" — this entry isolates RESTART semantics; bounded
            # eviction has its own entry (stream_dedup_within_watermark)
            src.withWatermark("ts", "3650 days")
            .dropDuplicates(["event_id"])
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_distinct_events"))
        )
        name = f"mem_{uuid.uuid4().hex[:12]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")  # memory sink recovers only in complete
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows_in = sum(int(p["numInputRows"]) for p in q.recentProgress)
        return name, rows_in

    _, n_in_1 = start_pass()  # pass 1 drains batch 1, then terminates: the "kill"
    n_offsets_1 = len(os.listdir(os.path.join(ckpt_dir, "offsets")))

    batch2.write.mode("append").parquet(src_dir)  # the source grows
    name2, n_in_2 = start_pass()  # pass 2 resumes from the same checkpoint

    n_b2 = batch2.count()
    if n_in_2 != n_b2:
        raise RuntimeError(
            f"restart recovery: resumed query read {n_in_2} rows, expected "
            f"exactly the {n_b2} batch-2 rows — the file-source commit log "
            f"was not recovered (fresh start would re-read batch 1: {n_in_1})"
        )
    n_offsets_2 = len(os.listdir(os.path.join(ckpt_dir, "offsets")))
    if n_offsets_2 <= n_offsets_1:
        raise RuntimeError(
            f"restart recovery: offset log did not grow across the restart "
            f"({n_offsets_1} -> {n_offsets_2}) — pass 2 did not resume this "
            f"checkpoint"
        )
    return spark.table(name2)


def streaming_variant_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured streaming ingest on the Spark 4 VARIANT path:
    heterogeneous JSON flows through the micro-batch chain, is parsed
    ONCE per row into the binary VARIANT encoding, and typed
    try_variant_get probes project it without any shape ever aborting
    the stream — the property a 100 TB semi-structured ingest needs
    (one malformed record must be a data condition, not a dead
    pipeline). Shape heterogeneity is synthesized deterministically
    (event_id % 4: int / nested object / non-numeric string / numeric
    string) so the batch oracle replays the coercion matrix; the
    running per-type aggregate maintains itself incrementally
    (complete-mode, state = event-type rows). The batch twin is
    scalar_variant_try_paths; this entry proves the VARIANT expression
    family composes with Structured Streaming micro-batching and the
    availableNow drain."""
    src = stream_table(spark, sf_dir, "events")
    kv = F.get_json_object(F.col("props"), "$.k")
    kind = (F.col("event_id") % 4).cast("bigint")
    mp = (
        F.when(kind == 0, F.col("props"))
        .when(kind == 1, F.concat(F.lit('{"k": {"nested": '), kv, F.lit("}}")))
        .when(kind == 2, F.concat(F.lit('{"k": "lvl'), kv, F.lit('"}')))
        .otherwise(F.concat(F.lit('{"k": "'), kv, F.lit('"}')))
    )
    probed = src.select(
        "event_type",
        F.parse_json(mp).alias("v"),
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "bigint").alias("k_int"),
        F.try_variant_get("v", "$.k.nested", "bigint").alias("k_nested"),
        F.try_variant_get("v", "$.absent", "bigint").alias("k_absent"),
    )
    agg = probed.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.count("k_int").alias("n_int"),
        F.coalesce(F.sum("k_int"), F.lit(0)).alias("sum_int"),
        F.count("k_nested").alias("n_nested"),
        F.coalesce(F.sum("k_nested"), F.lit(0)).alias("sum_nested"),
        F.count("k_absent").alias("n_absent"),
    )
    # key space = event types (~5 rows); the VARIANT parse/probe chain
    # is stateless map-side work (r14)
    out = _run_to_memory(agg, "complete", state_partitions=4)
    return out.select(
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("n_int").cast("long").alias("n_int"),
        F.col("sum_int").cast("long").alias("sum_int"),
        F.col("n_nested").cast("long").alias("n_nested"),
        F.col("sum_nested").cast("long").alias("sum_nested"),
        F.col("n_absent").cast("long").alias("n_absent"),
    )
