"""Streaming query corpus (ST4/ST6/ST7). Each pipeline drains with
availableNow and returns a batch DataFrame, so the final state is
deterministic and (for windowed agg / dedup / sessionization)
SQL-expressible."""

from __future__ import annotations

from ..registry import register
from ..streaming import pipelines as P


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
    """ST7: watermarked event-time tumbling-window aggregation over the
    event stream (availableNow drain) — must equal the batch rollup."""
    return P.streaming_daily_counts(spark, sf_dir)


@register(
    "stream_dedup_counts",
    oracle="""
        SELECT event_type, COUNT(DISTINCT event_id) AS n_distinct_events
        FROM events GROUP BY 1
    """,
    tags=("streaming", "ST6"),
)
def stream_dedup_counts(spark, sf_dir):
    """ST6 exact tier: streaming watermark+dropDuplicates — the
    checkpointed replacement for driver-RAM seen-sets."""
    return P.streaming_dedup_counts(spark, sf_dir)


@register(
    "stream_sessionize",
    oracle="""
        WITH o AS (
            SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
            FROM events
        )
        SELECT user_id,
               CAST(SUM(CASE WHEN pts IS NULL
                             OR epoch(ts) - epoch(pts) > 1800 THEN 1
                        ELSE 0 END) AS BIGINT) AS n_sessions
        FROM o GROUP BY 1
    """,
    tags=("streaming", "ST6", "state"),
)
def stream_sessionize(spark, sf_dir):
    """ST6 custom state: applyInPandasWithState sessionization (30-min
    inactivity gap) — equals the batch lag/cumsum sessionization."""
    return P.streaming_sessionize(spark, sf_dir, gap_minutes=30)


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
    runs on the micro-batches, and the relevant/irrelevant split is
    aggregated per severity. availableNow drain; equals the batch
    computation exactly."""
    return P.streaming_relevance_split(spark, sf_dir)


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
    """Stream-stream watermarked join: purchases attributed to a
    same-user click within the hour. Watermarks on BOTH sides plus the
    time-range join condition give bounded state (clicks evict at
    watermark - 1h). availableNow drain equals the batch range join."""
    return P.streaming_click_purchase_join(spark, sf_dir)


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
    """ST7 sliding tier: watermarked 6h/3h hopping-window counts over
    the event stream; availableNow drain equals the batch twin
    (agg_hopping_windows)."""
    return P.streaming_hopping_counts(spark, sf_dir)


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
    """ST6, arbitrary keyed state: per-user lifetime totals via
    applyInPandasWithState in update mode."""
    return P.streaming_user_totals(spark, sf_dir)


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
    """Stream-stream LEFT OUTER join with watermark timeout emission:
    per user, clicks that converted to a purchase within the hour vs
    clicks emitted unmatched after state eviction (funnel abandonment).
    The negative rows are what the inner-join tier cannot produce."""
    return P.streaming_click_abandonment(spark, sf_dir)


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
    """ST6 bounded-state dedup: dropDuplicatesWithinWatermark evicts key
    state once the watermark passes event_time + delta — the scale-safe
    form of streaming dedup (plain dropDuplicates state never ages out).
    Equals batch DISTINCT on the drained stream."""
    return P.streaming_dedup_within_watermark(spark, sf_dir)


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
    """ST3 restart proof: a checkpointed dedup+agg query killed after
    draining batch 1 and RESUMED (same checkpoint dir) over a grown
    source whose new batch re-sends a third of batch 1. Equal to batch
    COUNT(DISTINCT) only if both the dropDuplicates state and the
    file-source commit log survive the restart; structural asserts
    (resumed input == batch-2 rows exactly, offset log spans both runs)
    fail loudly. The reference loses this by design — its dedup state
    is driver RAM (deduplication_consumer.py:107-110)."""
    return P.streaming_restart_recovery(spark, sf_dir)
