"""Streaming query corpus, second tier: stream-static joins (broadcast
enrichment, ingest-time anti-join dedup), the count-min sketch as
aggregation state, foreachBatch upserts into the versioned gold sink,
the reference's whole consumer chain as one streaming DAG, and VARIANT
ingest. Each drains with availableNow and returns a batch DataFrame."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregations import cents
from ..functions.sql_text import slit, str_array
from ..registry import register
from ..sources import sinks as SK
from ..streaming.pipelines import _run_to_memory, stream_table
from ..tables import table

# the zip each relevant document carries into stream_surveillance_e2e
# (doc_id % 8 picks one); the drain and its oracle both read it
_E2E_ZIPS = ["11102", "11211", "10027", "10003", "10463", "11354", "99999", "10550"]


@register(
    "stream_static_enrichment",
    oracle="""
        SELECT c.c_mktsegment,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS revenue_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "stream-static-join"),
)
def stream_static_enrichment(spark, sf_dir):
    """Stream-static join: the order stream enriched with the static
    customer dim (broadcast — no state store involvement at all: the
    static side is re-resolvable per micro-batch, the Spark-native form
    of the reference's per-batch Postgres lookups). Revenue rolls up by
    market segment in exact BIGINT cents."""
    src = stream_table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        src.join(F.broadcast(c), src.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.expr(f"sum({cents('o_totalprice')})").cast("long").alias("revenue_cents"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )
    # key space = 5 market segments; the enrich join is broadcast (no
    # stream-side shuffle), so only the dim-bounded agg state exists
    return _run_to_memory(agg, "complete", state_partitions=4)


@register(
    "stream_cms_partials",
    oracle="""
        WITH items AS (
            SELECT CAST(user_id AS VARCHAR) AS item FROM events
        ), depths AS (
            SELECT CAST(unnest(range(4)) AS INTEGER) AS d
        ), b AS (
            SELECT item, d,
                   CAST(('0x' || substr(md5('cms:' || d || ':' || item),
                                        1, 15)) AS BIGINT) % 32 AS bucket
            FROM items CROSS JOIN depths
        )
        SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM b GROUP BY 1, 2
    """,
    tags=("streaming", "sketch", "cms", "ST6"),
)
def stream_cms_partials(spark, sf_dir):
    """ST6 sketch tier: a count-min sketch over the event stream.
    cms_table's plan (bucket projection -> explode -> groupBy) is
    stateless until the aggregation, whose state is the sketch itself —
    depth x width counters, FIXED regardless of stream volume: the
    streaming-native answer to frequency tracking where per-key state
    would grow without bound. The complete-mode availableNow drain must
    equal the batch sketch bit-for-bit; the md5 bucket family makes the
    whole thing DuckDB-replayable."""
    from ..operators.sketches import cms_table

    src = stream_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_key")
    )
    # key space = depth x width sketch cells (128 rows, FIXED by the
    # sketch dimensions regardless of stream volume)
    return _run_to_memory(
        cms_table(src, "user_key"), "complete", state_partitions=4
    )


# tokens in the lead-in fingerprint
_PREFIX_TOKENS = 8


def _prefix_fp(text: str):
    """Lead-in fingerprint: md5 of the first _PREFIX_TOKENS whitespace
    tokens of the normalized text — the boilerplate/header dedup key
    (full-text md5 catches only byte-exact copies; templated corpora
    share lead-ins)."""
    from ..functions.text_funcs import tokens

    return F.expr(f"md5(concat_ws(' ', slice({tokens(text)}, 1, {_PREFIX_TOKENS})))")


# the lead-in key's DuckDB twin
_PREFIX_FP_SQL = (
    "md5(array_to_string(list_slice(list_filter(string_split(lower(text), ' '),"
    f" t -> t <> ''), 1, {_PREFIX_TOKENS}), ' '))"
)


@register(
    "stream_ingest_dedup",
    oracle=f"""
        WITH existing AS (
            SELECT DISTINCT {_PREFIX_FP_SQL} AS fp
            FROM documents WHERE doc_id % 5 <> 0
        ), fresh AS (
            SELECT d.source
            FROM documents d
            WHERE d.doc_id % 5 = 0
              AND {_PREFIX_FP_SQL} NOT IN (SELECT fp FROM existing)
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM fresh GROUP BY 1
    """,
    tags=("streaming", "dedup", "ST6", "incremental"),
)
def stream_ingest_dedup(spark, sf_dir):
    """Stream-static anti-join dedup at ingest: arriving documents (the
    doc_id % 5 == 0 delta as the stream) are lead-in-fingerprinted and
    anti-joined per micro-batch against the EXISTING corpus's
    fingerprint set (a static table — at scale, the maintained dedup
    index), so only documents with an unseen lead-in reach the
    per-source rollup — the streaming twin of
    dedup_incremental_new_vs_old's batch shape. Static-side state never
    grows with the stream. The 8-token prefix key is what makes the
    filter bite on a templated corpus (full-text md5 would pass
    everything — the corpus has no byte-exact dups). availableNow drain
    equals the batch anti-join exactly."""
    src = stream_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    existing = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 != 0)
        .select(_prefix_fp("text").alias("fp"))
        .distinct()
    )
    fresh = src.withColumn("fp", _prefix_fp("text")).join(existing, "fp", "left_anti")
    agg = fresh.groupBy("source").agg(F.count("*").cast("long").alias("n_new"))
    return _run_to_memory(agg, "complete")


@register(
    "stream_foreachbatch_upsert",
    oracle="""
        SELECT user_id,
               event_type AS last_type,
               ts AS last_ts,
               ROUND(value, 2) AS last_value
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    tags=("streaming", "foreachBatch", "upsert", "ST4", "S11"),
)
def stream_foreachbatch_upsert(
    spark, sf_dir, gold_dir=None, stage_dir=None, checkpoint_dir=None
):
    """ST4 + S11 composition: per-micro-batch MERGE into a versioned
    gold table via foreachBatch — the production streaming-upsert idiom
    (Delta's `foreachBatch + MERGE`, expressed over the engine's
    versioned-parquet gold sink), the streaming-sink tier of S11's
    upsert primitive. The source is staged into four files and streamed
    with maxFilesPerTrigger=1, so the merge crosses REAL micro-batch
    boundaries and the gold table is rewritten once per batch
    (version=N+1, _SUCCESS-gated — a mid-merge crash leaves the
    previous committed version readable).

    Winner selection inside and across batches compares the DATA
    ordering (ts, event_id), never arrival order, so the final table
    equals the batch last-writer-wins oracle for ANY batching — that is
    the invariant that makes a streaming upsert replayable.

    Reference: the upsert loop in src/database/psql_db_client.py:369-417
    (per-row ON CONFLICT DO UPDATE), distributed.

    The stage, gold and checkpoint dirs default to `stage/`, `gold/`
    and `ckpt/` under the query's scratch dir; tests pass their own to
    assert the per-batch version trail (one committed gold version per
    micro-batch) and checkpointed exactly-once. The staging write
    exists only to manufacture real micro-batches from a static table
    (one parquet table = one availableNow batch otherwise); production
    points the readStream at the actual landing directory and stages
    nothing."""
    scratch = SK.scratch_dir(sf_dir, "fbu")
    stage = stage_dir or os.path.join(scratch, "stage")
    gold = gold_dir or os.path.join(scratch, "gold")
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(stage).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(stage)

    def latest_per_user(df: DataFrame) -> DataFrame:
        # arg-max by (ts, event_id): struct comparison is field-ordered
        # and event_id is unique, so the winner is deterministic; a
        # partial-aggregable max, no window
        return (
            df.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s"))
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
        .option("checkpointLocation", checkpoint_dir or os.path.join(scratch, "ckpt"))
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


def _e2e_oracle() -> str:
    """Generated from the SAME constants the streaming DAG uses
    (relevance vocab, location aliases/prefixes, _E2E_ZIPS) so the two
    can never drift apart."""
    from ..domain.location import ALIASES, BOROUGH_ZIP_PREFIXES, _NB_BOROUGH
    from ..operators.relevance import (
        HAZARD_VOCAB,
        PRIMARY_VOCAB,
        SECONDARY_VOCAB,
    )

    def arr(vocab):
        return "[" + ", ".join(f"'{k}'" for k in vocab) + "]"

    zips = arr(_E2E_ZIPS)
    alias_case = "CASE " + " ".join(
        f"WHEN instr(lower(text), '{a}') > 0 THEN '{_NB_BOROUGH[n]}'"
        for a, n in ALIASES
    ) + " ELSE NULL END"
    pfx_rows = ", ".join(f"('{b}','{p}')" for b, p in BOROUGH_ZIP_PREFIXES)
    return f"""
        WITH m AS (
            SELECT doc_id, text,
                   len(list_filter({arr(PRIMARY_VOCAB)},
                                   k -> contains(lower(text), k))) AS np,
                   len(list_filter({arr(SECONDARY_VOCAB)},
                                   k -> contains(lower(text), k))) AS ns,
                   len(list_filter({arr(HAZARD_VOCAB)},
                                   k -> contains(lower(text), k))) AS nh
            FROM documents
        ), rel AS (
            SELECT doc_id, text,
                   CASE WHEN np >= 3 THEN 'severe'
                        WHEN np >= 2 THEN 'moderate' ELSE 'mild' END AS severity,
                   ({zips})[CAST(doc_id % {len(_E2E_ZIPS)} + 1 AS INTEGER)] AS zip,
                   {alias_case} AS alias_borough
            FROM m
            WHERE length(text) >= 5 AND (np > 0 OR ns >= 2 OR nh > 0)
        ), pfx AS (
            SELECT * FROM (VALUES {pfx_rows}) t(pfx_borough, zip_prefix)
        )
        SELECT COALESCE(p.pfx_borough, r.alias_borough, 'unknown') AS borough,
               r.severity,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM rel r LEFT JOIN pfx p ON substring(r.zip, 1, 3) = p.zip_prefix
        GROUP BY 1, 2
    """


@register(
    "stream_surveillance_e2e",
    oracle=_e2e_oracle(),
    tags=("streaming", "composed", "relevance", "location", "flagship"),
    bench=True,
)
def stream_surveillance_e2e(spark, sf_dir):
    """The reference's WHOLE consumer chain (relevance_consumer ->
    location_consumer -> dashboard rollup; reference:
    src/spark_consumers/*.py run as separate Kafka consumers with
    JSON-file handoffs) as ONE streaming DAG: documents stream in,
    relevance extraction runs as pure column expressions on the
    micro-batches, irrelevant records drop, survivors are
    location-enriched (zip-prefix broadcast dim + text-alias scan — the
    doc stream's available signals), and the dashboard aggregate
    (borough x severity counts) maintains itself incrementally. No
    intermediate files, no per-stage consumer processes, one
    watermark-free complete-mode aggregate whose state is boroughs x
    severities rows; availableNow drain equals the chained batch oracle
    exactly.

    The location step is the zip-prefix and alias part of
    enrich_with_location's cascade, inline: on this stream the full
    cascade gives the same rows, but its absent subreddit and
    coordinate lookups stay in the micro-batch plan as nested-loop
    joins, and its three statements cost ~70 ms more driver time per
    call.

    Scale: relevance/enrichment are stateless map-side work; the only
    stream state is the final tiny aggregate; the static dims broadcast
    as LocalRelations (no job)."""
    from ..domain.location import ALIASES, _NB_BOROUGH, borough_zip_dim
    from ..operators.relevance import extract_relevance

    rel = extract_relevance(stream_table(spark, sf_dir, "documents"))
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
                     element_at({str_array(_E2E_ZIPS)},
                                CAST(doc_id % {len(_E2E_ZIPS)} + 1 AS INT)) AS zip,
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


@register(
    "stream_variant_ingest",
    oracle="""
        WITH mod AS (
            SELECT event_type,
                   CASE event_id % 4
                     WHEN 0 THEN props
                     WHEN 1 THEN '{"k": {"nested": '
                                 || json_extract_string(props, '$.k') || '}}'
                     WHEN 2 THEN '{"k": "lvl'
                                 || json_extract_string(props, '$.k') || '"}'
                     ELSE '{"k": "'
                          || json_extract_string(props, '$.k') || '"}'
                   END AS mp
            FROM events
        ), ext AS (
            SELECT event_type,
                   TRY_CAST(json_extract_string(mp, '$.k') AS BIGINT)
                       AS k_int,
                   TRY_CAST(json_extract_string(mp, '$.k.nested') AS BIGINT)
                       AS k_nested,
                   TRY_CAST(json_extract_string(mp, '$.absent') AS BIGINT)
                       AS k_absent
            FROM mod
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(COUNT(k_int) AS BIGINT) AS n_int,
               CAST(COALESCE(SUM(k_int), 0) AS BIGINT) AS sum_int,
               CAST(COUNT(k_nested) AS BIGINT) AS n_nested,
               CAST(COALESCE(SUM(k_nested), 0) AS BIGINT) AS sum_nested,
               CAST(COUNT(k_absent) AS BIGINT) AS n_absent
        FROM ext GROUP BY event_type
    """,
    tags=("streaming", "variant", "semistructured", "spark4", "ST4"),
)
def stream_variant_ingest(spark, sf_dir):
    """Semi-structured streaming ingest on the Spark 4 VARIANT path:
    heterogeneous JSON flows through the micro-batch chain, is parsed
    ONCE per row into the binary VARIANT encoding, and typed
    try_variant_get probes project it (coercion matrix: ints and
    numeric strings coerce, objects/non-numeric/absent -> NULL) without
    any shape ever aborting the stream — the property a 100 TB
    semi-structured ingest needs (one malformed record must be a data
    condition, not a dead pipeline). The shapes are synthesized
    deterministically (event_id % 4) so the batch oracle replays the
    coercion matrix; the running per-type aggregate maintains itself
    incrementally (complete mode, state = event-type rows). The batch
    twin scalar_variant_try_paths builds the same frame and pins the
    per-shape matrix; this entry pins that the VARIANT family composes
    with Structured Streaming micro-batching and the availableNow
    drain."""
    from .scalar import variant_probe_counts  # lazy: import order is registry order

    agg = variant_probe_counts(stream_table(spark, sf_dir, "events"), ["event_type"])
    # key space = event types (~5 rows); the VARIANT parse/probe chain
    # is stateless map-side work
    return _run_to_memory(agg, "complete", state_partitions=4)
