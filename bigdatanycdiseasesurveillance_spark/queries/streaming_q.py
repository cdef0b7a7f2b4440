"""Streaming query corpus (ST4/ST6/ST7). Each pipeline drains with
availableNow and returns a batch DataFrame, so the final state is
deterministic and (for windowed agg / dedup / sessionization)
SQL-expressible."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.time_funcs import epoch_sec
from ..operators.aggregations import cents
from ..registry import register
from ..sources.sinks import scratch_dir
from ..streaming.pipelines import _run_to_memory, stream_table
from ..tables import table

# stream_sessionize's inactivity gap
_SESSION_GAP_MIN = 30


@register(
    "stream_daily_counts",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "ST7", "ST4"),
)
def stream_daily_counts(spark, sf_dir):
    """ST7: watermarked event-time tumbling-window daily aggregation
    over the event stream; availableNow drain; returns (day,
    event_type, cnt), which must equal the batch daily rollup."""
    agg = (
        stream_table(spark, sf_dir, "events")
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").cast("date").alias("day"), "event_type", "cnt")
    )
    # key space = days x event types — calendar/retention-bounded (never
    # corpus-bounded), and the only shuffle is the bounded-key aggregate
    # itself (map-side partials emit <= keys rows per task), so state
    # sized to the key space is right at any cluster width
    return _run_to_memory(agg, "complete", state_partitions=8)


@register(
    "stream_dedup_counts",
    oracle="""
        SELECT event_type, COUNT(DISTINCT event_id) AS n_distinct_events
        FROM events GROUP BY 1
    """,
    tags=("streaming", "ST6"),
)
def stream_dedup_counts(spark, sf_dir):
    """ST6 exact tier: watermarked streaming dropDuplicates on the event
    key — the checkpointed replacement for the reference's driver-RAM
    seen-hashes set. Returns per-type distinct-event counts."""
    deduped = (
        stream_table(spark, sf_dir, "events")
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
    )
    out = _run_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(F.count("*").alias("n_distinct_events"))


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


@register(
    "stream_sessionize",
    oracle=f"""
        WITH o AS (
            SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
            FROM events
        )
        SELECT user_id,
               CAST(SUM(CASE WHEN pts IS NULL
                             OR epoch(ts) - epoch(pts) > {_SESSION_GAP_MIN * 60} THEN 1
                        ELSE 0 END) AS BIGINT) AS n_sessions
        FROM o GROUP BY 1
    """,
    tags=("streaming", "ST6", "state"),
)
def stream_sessionize(spark, sf_dir):
    """ST6 custom state: applyInPandasWithState sessionization with a
    30-minute inactivity gap — the engine's replacement for the
    reference's process-local caches, with checkpointed state. Returns
    (user_id, n_sessions), equal to the batch lag/cumsum
    sessionization."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = stream_table(spark, sf_dir, "events").select(
        "user_id", epoch_sec("ts").alias("ts_sec")
    )
    sessions = src.groupBy("user_id").applyInPandasWithState(
        _make_sessionizer(_SESSION_GAP_MIN * 60.0),
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


@register(
    "stream_relevance_split",
    oracle="""
        WITH m AS (
            SELECT doc_id, text,
                   len(list_filter(['join','filter','window','stream','hash',
                                    'merge','sort','scan'],
                                   k -> contains(lower(text), k))) AS np,
                   len(list_filter(['group','batch','query','table','row',
                                    'key','data'],
                                   k -> contains(lower(text), k))) AS ns,
                   len(list_filter(['error','slow','fail'],
                                   k -> contains(lower(text), k))) AS nh
            FROM documents
        )
        SELECT (length(text) >= 5) AND (np > 0 OR ns >= 2 OR nh > 0)
                   AS is_relevant,
               CASE WHEN np >= 3 THEN 'severe'
                    WHEN np >= 2 THEN 'moderate' ELSE 'mild' END AS severity,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM m GROUP BY 1, 2
    """,
    tags=("streaming", "ST1", "ST5", "relevance"),
)
def stream_relevance_split(spark, sf_dir):
    """ST1/ST5: the reference's streaming relevance stage — documents
    arrive as a stream, the relevance operator (native columns, no UDF)
    runs on the micro-batches, and the relevant/irrelevant fanout
    (relevance_consumer.py:447-474) collapses into one grouped sink of
    (is_relevant, severity) counts. availableNow drain; equals the
    batch computation exactly."""
    from ..operators.relevance import extract_relevance

    analyzed = extract_relevance(stream_table(spark, sf_dir, "documents"))
    agg = analyzed.groupBy("is_relevant", "severity").agg(
        F.count("*").cast("long").alias("cnt")
    )
    # key space = 2 x severity levels (~10 rows at ANY corpus size);
    # extract_relevance is stateless map-side work
    return _run_to_memory(agg, "complete", state_partitions=4)


def _click_purchase_join(ev: DataFrame, how: str) -> DataFrame:
    """Clicks joined to same-user purchases within the hour, both sides
    watermarked. The join condition bounds p_ts in [c_ts, c_ts + 1h], so
    the state store can evict a click row as soon as the purchase-side
    watermark passes c_ts + 1h — bounded state at any stream length, the
    property the reference's driver-side correlation buffers lack."""
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
    return clicks.join(
        purchases,
        F.expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"),
        how,
    )


@register(
    "stream_click_attribution",
    oracle="""
        WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
             p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        SELECT c.user_id,
               CAST(COUNT(*) AS BIGINT) AS n_attributed
        FROM c JOIN p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        GROUP BY c.user_id
    """,
    tags=("streaming", "stream-stream-join"),
)
def stream_click_attribution(spark, sf_dir):
    """Stream-stream watermarked inner join: purchases attributed to a
    same-user click within the hour (the operator family the reference
    approximates with driver-side correlation buffers). Watermarks on
    BOTH sides plus the time-range join condition give bounded state.
    Returns (user_id, n_attributed) pair counts; the availableNow drain
    equals the batch range join."""
    joined = _click_purchase_join(stream_table(spark, sf_dir, "events"), "inner")
    return (
        _run_to_memory(joined, "append")
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count("*").cast("long").alias("n_attributed"))
    )


@register(
    "stream_hopping_counts",
    oracle="""
        SELECT TIMESTAMP '1970-01-01 00:00:00'
                   + ((CAST(FLOOR(epoch(ts)) AS BIGINT) // 10800 - o.k)
                      * 10800) * INTERVAL '1 second' AS win_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) o
        GROUP BY 1, 2
    """,
    tags=("streaming", "ST7", "hopping"),
)
def stream_hopping_counts(spark, sf_dir):
    """ST7 sliding tier: 6-hour hopping windows every 3 hours over the
    event stream (each event in exactly 2 windows), watermarked,
    complete-mode availableNow drain — the batch twin
    agg_hopping_windows's frame over the stream, so the two are equal."""
    from .ir_q import hopping_counts  # lazy: import order is registry order

    agg = hopping_counts(stream_table(spark, sf_dir, "events").withWatermark("ts", "1 hour"))
    # key space = hop windows x types — calendar-bounded (~8 windows/day
    # x types); sole shuffle is the bounded-key aggregate
    return _run_to_memory(agg, "complete", state_partitions=8)


@register(
    "stream_user_totals",
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events GROUP BY user_id
    """,
    tags=("streaming", "ST6", "state"),
)
def stream_user_totals(spark, sf_dir):
    """ST6, arbitrary keyed state: per-user lifetime event count and
    exact cents total via applyInPandasWithState in update mode. Each
    micro-batch emits cumulative totals, so max() per user is the final
    emission under any batch split (same convergence argument as
    stream_sessionize)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = stream_table(spark, sf_dir, "events").select(
        "user_id", F.expr(cents("value")).alias("cents")
    )

    def fn(key, pdf_iter, state):
        import pandas as _pd

        n, total = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += int(pdf["cents"].sum())
        state.update((n, total))
        yield _pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "sum_cents": total}]
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


@register(
    "stream_click_abandonment",
    oracle="""
        WITH mx AS (
            SELECT LEAST(
                MAX(CASE WHEN event_type = 'click' THEN ts END),
                MAX(CASE WHEN event_type = 'purchase' THEN ts END)
            ) - INTERVAL 3 HOUR AS cut
            FROM events
        ),
        c AS (
            SELECT user_id, event_id AS click_id, ts AS c_ts
            FROM events, mx
            WHERE event_type = 'click' AND ts <= mx.cut
        ), p AS (
            SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
            FROM events WHERE event_type = 'purchase'
        ), j AS (
            SELECT c.user_id, c.click_id, p.purchase_id
            FROM c LEFT JOIN p
              ON p.p_user = c.user_id
             AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
        )
        SELECT user_id,
               CAST(COUNT(DISTINCT CASE WHEN purchase_id IS NOT NULL
                                        THEN click_id END) AS BIGINT)
                   AS n_converted,
               CAST(COUNT(CASE WHEN purchase_id IS NULL THEN 1 END) AS BIGINT)
                   AS n_abandoned
        FROM j GROUP BY user_id
    """,
    tags=("streaming", "stream-stream-join", "outer"),
)
def stream_click_abandonment(spark, sf_dir):
    """Stream-stream LEFT OUTER watermarked join — the timeout-emission
    tier the inner join lacks: per user, clicks that converted to a
    purchase within the hour vs clicks emitted with a NULL purchase once
    the watermark passes c_ts + 1h (funnel abandonment, computed
    incrementally with bounded state; the reference's driver-RAM
    correlation buffers can't produce the negative rows at all).

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

    side_max = table(spark, sf_dir, "events").groupBy().agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    ).first()
    cutoff = min(side_max["c"], side_max["p"]) - dt.timedelta(hours=3)
    joined = _click_purchase_join(stream_table(spark, sf_dir, "events"), "leftOuter")
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


@register(
    "stream_dedup_within_watermark",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_events
        FROM events
        GROUP BY event_type
    """,
    tags=("streaming", "ST6"),
)
def stream_dedup_within_watermark(spark, sf_dir):
    """ST6 bounded-state dedup: dropDuplicatesWithinWatermark — unlike
    plain streaming dropDuplicates (whose key state lives forever),
    state for a key is evicted once the watermark passes its event time
    + delta, so memory is bounded by the dup-arrival window, not the
    key space: the scale-safe form of streaming dedup. Equals batch
    DISTINCT on the drained stream. The cross-micro-batch drop
    guarantee is pinned in tests/test_streaming.py with crafted
    duplicate batches."""
    deduped = (
        stream_table(spark, sf_dir, "events")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = _run_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_distinct_events")
    )


@register(
    "stream_restart_recovery",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_events
        FROM events
        GROUP BY event_type
    """,
    tags=("streaming", "ST3", "ST6", "restart"),
)
def stream_restart_recovery(spark, sf_dir):
    """ST3/ST6 restart-recovery proof: kill a checkpointed stateful
    query mid-stream and resume it against a grown source with the SAME
    checkpoint directory; the final counts must equal the batch oracle.

    The reference's dedup state lives in driver RAM and is lost on every
    restart (deduplication_consumer.py:107-110) — SURVEY §7.4.5 claims
    the checkpointed engine form is "strictly more correct after
    restart", and this entry proves it.

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
    ev = table(spark, sf_dir, "events")
    scratch = scratch_dir(sf_dir, "restart")
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
        try:
            q.awaitTermination()
            out = spark.table(name)
        finally:
            spark.catalog.dropTempView(name)
        return out, sum(int(p["numInputRows"]) for p in q.recentProgress)

    _, n_in_1 = start_pass()  # pass 1 drains batch 1, then terminates: the "kill"
    n_offsets_1 = len(os.listdir(os.path.join(ckpt_dir, "offsets")))

    batch2.write.mode("append").parquet(src_dir)  # the source grows
    out, n_in_2 = start_pass()  # pass 2 resumes from the same checkpoint

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
    return out
