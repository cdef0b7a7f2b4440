"""Structured Streaming plumbing shared by the registered drains
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

Each drain is one registered query function (queries/streaming_q.py,
queries/streaming_extra_q.py, curation_q.stream_session_window), built
from the same frame function as its batch twin where it has one. This
module holds what they share: `stream_table` (a file-source stream
standing in for a Kafka topic — same DataFrame API surface) and
`_run_to_memory`, which
drains a stream and returns a *batch* DataFrame of the final result, so
a drain is checked against a SQL oracle like any batch query.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

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
    foreachbatch_upsert (per-batch user-keyed shuffles).

    The drain leaves nothing behind: on every path out it removes its
    checkpoint dir and drops the memory sink's temp view (the returned
    frame has already resolved the view and keeps the sink's rows)."""
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
        out = spark.table(name)
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.dropTempView(name)
    return out
