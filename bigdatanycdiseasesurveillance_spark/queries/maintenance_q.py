"""Warehouse-maintenance shapes: CDC changelog application (MERGE
semantics with deletes), incremental partial-aggregate merge
(materialized-view maintenance), and duplicate-group representative
selection (the keep-one step after dedup).

The reference's upsert path (psql_db_client.py:369-417) models
insert-or-update only; CDC apply adds the delete leg, and the
incremental merge models how its daily aggregates would be maintained
without full recompute at 100 TB.

Scale notes: CDC apply is one window over (key, seq) — identical
shuffle to last-writer-wins upsert; at scale the changelog batch is
tiny relative to the snapshot, so production MERGE joins the batch
(broadcast) against the base. Incremental merge is THE 100 TB pattern:
partials are algebraic (count/sum/min/max merge associatively), so a
new day's delta costs one pass over the delta only, never over the
base — the query proves merge(base partials, delta partials) equals a
full recompute. Representative selection is one window per duplicate
group, shuffled by content hash — same key as the dedup that produced
the groups, so with bucketing it reuses the dedup's partitioning.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.aggregations import cents, exact_sum
from ..operators.sampling import md5_long
from ..registry import register
from ..sources.sinks import (
    latest_gold_version,
    read_latest_gold,
    scratch_dir,
    vacuum_gold_versions,
    write_gold_version,
)
from ..tables import table, values_dim

_SPLIT = "2024-01-16"  # base/delta boundary for incremental merge


@register(
    "cdc_apply_changes",
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, value, ts, event_id,
                   CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT user_id,
               event_type AS final_type,
               ROUND(value, 2) AS final_value,
               ts AS updated_at
        FROM c
        WHERE rn = 1 AND op = 'U'
    """,
    tags=("cdc", "merge", "window"),
)
def cdc_apply_changes(spark, sf_dir):
    """Apply a CDC changelog to produce the current snapshot: each
    event is an upsert ('U') or delete ('D' — modeled deterministically
    as every 10th event_id); per key, the latest change in (ts,
    event_id) order wins, and a final delete removes the key from the
    snapshot entirely. One hash shuffle on the key, one sort within —
    the same cost envelope as last-writer-wins upsert; the delete leg
    is a filter, not an extra pass."""
    e = table(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_id") % 10 == 0, "D").otherwise("U")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("event_type").alias("final_type"),
            F.round("value", 2).alias("final_value"),
            F.col("ts").alias("updated_at"),
        )
    )


@register(
    "agg_incremental_merge",
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE)
                   AS sum_value,
               ROUND(MIN(value), 2) AS min_value,
               ROUND(MAX(value), 2) AS max_value,
               CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
                          / COUNT(*), 4) AS DOUBLE) AS avg_value
        FROM events
        GROUP BY event_type
    """,
    tags=("agg", "incremental", "materialized-view"),
)
def agg_incremental_merge(spark, sf_dir):
    """Materialized-view maintenance algebra: aggregate the base
    partition (ts < 2024-01-16) and the delta partition separately into
    algebraic partials (count/sum/min/max), then MERGE the partials —
    sum of counts, sum of sums, min of mins, max of maxes, avg
    re-derived as sum/count. The oracle recomputes from scratch; value
    equality proves the merge is lossless, which is what lets a 100 TB
    pipeline maintain rollups by scanning only each day's delta. Both
    legs' groupBys are map-side combined; the merge input is
    2 x n_groups rows."""
    e = table(spark, sf_dir, "events")
    split = F.lit(_SPLIT).cast("timestamp")

    def partials(df):
        # decimal sum partials: exact at any order AND exactly mergeable
        # (sum-of-sums of decimals is the from-scratch decimal sum; a
        # double sum makes merge==recompute hold only to float noise)
        return df.groupBy("event_type").agg(
            F.count("*").alias("cnt"),
            F.expr(exact_sum("value")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = partials(e.filter(F.col("ts") < split))
    delta = partials(e.filter(F.col("ts") >= split))
    merged = base.unionAll(delta).groupBy("event_type").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    return merged.select(
        "event_type",
        F.col("cnt").cast("long").alias("n_events"),
        F.round("s", 2).cast("double").alias("sum_value"),
        F.round("mn", 2).alias("min_value"),
        F.round("mx", 2).alias("max_value"),
        F.round(F.col("s").cast("double") / F.col("cnt"), 4).alias("avg_value"),
    )


@register(
    "cur_dup_representative",
    oracle="""
        WITH h AS (
            SELECT doc_id, n_chars, md5(lower(trim(text))) AS content_md5
            FROM documents
        ),
        r AS (
            SELECT content_md5, doc_id, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY content_md5
                                      ORDER BY n_chars DESC, doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY content_md5) AS n_copies
            FROM h
        )
        SELECT content_md5,
               doc_id AS kept_doc_id,
               CAST(n_copies AS BIGINT) AS n_copies
        FROM r
        WHERE rk = 1
    """,
    tags=("curation", "dedup", "window"),
)
def cur_dup_representative(spark, sf_dir):
    """Representative selection — the step after dedup finds groups:
    per exact-content group (md5 of normalized text), keep the
    highest-quality copy (longest, doc_id tie-break) and record the
    group size. One window shuffled on the 16-byte content hash; at
    100 TB this is the same partitioning the exact-dedup groupBy
    already produced, so the two stages pipeline without a second
    shuffle when bucketed. Singleton groups pass through (n_copies=1),
    making this a total function over the corpus — the downstream
    corpus IS this query's output."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.md5(F.lower(F.trim(F.col("text")))).alias("content_md5")
    )
    wp = Window.partitionBy("content_md5")
    return (
        d.withColumn(
            "rk",
            F.row_number().over(wp.orderBy(F.desc("n_chars"), F.asc("doc_id"))),
        )
        .withColumn("n_copies", F.count("*").over(wp))
        .filter(F.col("rk") == 1)
        .select(
            "content_md5",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_copies").cast("long").alias("n_copies"),
        )
    )


@register(
    "maint_compact_small_files",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(16 AS BIGINT) AS files_before,
               CAST(2 AS BIGINT) AS files_after,
               TRUE AS rows_preserved,
               TRUE AS content_preserved
        FROM events
    """,
    tags=("maintenance", "compaction", "layout"),
)
def maint_compact_small_files(spark, sf_dir):
    """Small-files compaction (the OPTIMIZE/bin-packing maintenance op):
    write the events table fragmented into 16 files, compact to 2, and
    emit the before/after file counts plus row- and content-
    preservation witnesses (count equality and an order-insensitive
    md5-XOR checksum over event ids — same device as
    dq_rowhash_checksum). The oracle pins the full contract, so a
    compaction that drops, duplicates, or corrupts rows goes red.

    Scale: compaction is repartition + rewrite — one round-robin
    shuffle sized by the target file count; on a partitioned table it
    runs per partition, embarrassingly parallel across them. The small-
    files problem this solves (per-file open cost, scan-split floor)
    is the same failure mode tables.parallelize_scan works around at
    read time — compaction is the write-side, durable fix."""
    e = table(spark, sf_dir, "events")
    base = scratch_dir(sf_dir, "compact")
    frag_dir = f"{base}/frag"
    comp_dir = f"{base}/compact"
    e.repartition(16).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    files_before = len(frag.inputFiles())
    frag.repartition(2).write.mode("overwrite").parquet(comp_dir)
    comp = spark.read.parquet(comp_dir)
    files_after = len(comp.inputFiles())

    def checksum(df):
        # order-insensitive content witness: XOR of per-row id hashes
        h = md5_long(F.col("event_id").cast("string"))
        return df.select(h.alias("h")).agg(
            F.count("*").cast("long").alias("n"),
            F.expr("bit_xor(h)").alias("xor_h"),
        )
    src = checksum(e).collect()[0]
    out = checksum(comp).collect()[0]
    return values_dim(
        spark,
        [
            (
                int(out["n"]),
                int(files_before),
                int(files_after),
                bool(out["n"] == src["n"]),
                bool(out["xor_h"] == src["xor_h"]),
            )
        ],
        "n_rows long, files_before long, files_after long,"
        " rows_preserved boolean, content_preserved boolean",
    )


@register(
    "maint_erasure_propagation",
    oracle="""
        WITH erase AS (
            SELECT DISTINCT user_id FROM events WHERE user_id % 31 = 0
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS rows_before,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM erase) AS n_subjects,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                WHERE user_id % 31 = 0) AS rows_erased,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                WHERE user_id % 31 <> 0) AS rows_after,
               TRUE AS no_residual
    """,
    tags=("maintenance", "erasure", "gdpr"),
)
def maint_erasure_propagation(spark, sf_dir):
    """Erasure (right-to-be-forgotten) propagation: delete every record
    of the subject set (user_id % 31 == 0 stands in for the request
    list) via left-anti join, rewrite, and AUDIT the result — the
    no_residual witness is an inner-join count against the subject
    list on the rewritten table, pinned TRUE by the oracle alongside
    exact before/erased/after accounting.

    Scale: the subject list is small (broadcast anti-join — the fact
    side never shuffles); the rewrite is partition-parallel, and on a
    date-partitioned table only partitions containing subject rows
    need rewriting (min/max pruning on the audit scan)."""
    e = table(spark, sf_dir, "events")
    subjects = e.filter(F.col("user_id") % 31 == 0).select("user_id").distinct()
    cleaned = e.join(F.broadcast(subjects), "user_id", "left_anti")
    out_dir = scratch_dir(sf_dir, "erase") + "/clean"
    cleaned.write.mode("overwrite").parquet(out_dir)
    after = spark.read.parquet(out_dir)
    residual = after.join(F.broadcast(subjects), "user_id", "inner").count()
    rows_before = e.count()
    rows_after = after.count()
    n_subjects = subjects.count()
    return values_dim(
        spark,
        [
            (
                rows_before,
                n_subjects,
                rows_before - rows_after,
                rows_after,
                bool(residual == 0),
            )
        ],
        "rows_before long, n_subjects long, rows_erased long,"
        " rows_after long, no_residual boolean",
    )


@register(
    "inc_join_delta_maintenance",
    oracle="""
        SELECT o.o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey % 10 = 0 OR l.l_orderkey % 7 = 0
        GROUP BY o.o_orderstatus
    """,
    tags=("maintenance", "incremental", "join", "mv"),
)
def inc_join_delta_maintenance(spark, sf_dir):
    """Incremental view maintenance for JOINs — the delta algebra
    d(A JOIN B) = dA JOIN B_old UNION A_old JOIN dB UNION dA JOIN dB —
    completing agg_incremental_merge's partial-merge story (aggregates)
    with the join tier: when deltas arrive for both sides of a
    materialized join, only the three delta terms recompute; the
    base JOIN base bulk (the expensive term at 100 TB) is never
    touched. The oracle computes the same rowset from the FULL join
    restricted to delta-involving rows, so the algebraic identity
    itself is what gets value-checked. Money in exact integer cents
    (the repo's standard device for order-insensitive sums)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", (F.col("o_orderkey") % 10 == 0).alias("o_is_delta")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        (F.col("l_orderkey") % 7 == 0).alias("l_is_delta"),
    )
    o_base, o_delta = o.filter(~F.col("o_is_delta")), o.filter("o_is_delta")
    l_base, l_delta = li.filter(~F.col("l_is_delta")), li.filter("l_is_delta")

    def j(a, b):
        return a.join(b, a["o_orderkey"] == b["l_orderkey"]).select(
            "o_orderstatus", "l_extendedprice"
        )

    delta_rows = (
        j(o_delta, l_base).unionByName(j(o_base, l_delta)).unionByName(j(o_delta, l_delta))
    )
    return delta_rows.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.expr(f"sum({cents('l_extendedprice')})").cast("long").alias("revenue_cents"),
    )


@register(
    "maint_vacuum_gold",
    oracle="""
        SELECT CAST(5 AS BIGINT) AS versions_written,
               CAST(3 AS BIGINT) AS n_deleted,
               CAST(2 AS BIGINT) AS n_kept,
               CAST(5 AS BIGINT) AS latest_after,
               TRUE AS latest_readable,
               (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
                FROM events) AS latest_rows
    """,
    tags=("maintenance", "vacuum", "retention", "sink"),
)
def maint_vacuum_gold(spark, sf_dir):
    """Gold-version retention: write 5 versioned refreshes of the
    last-writer-wins user table, vacuum to keep 2, and emit the
    retention contract as checkable constants — versions deleted/kept,
    the latest version still present and readable, and its row count
    (users). The versioned sink gives time travel; this is the
    scheduled cleanup that bounds its growth (the engine's
    DELETE+VACUUM analog; the reference's pick-latest-file layout,
    app.py:206-210, can never reclaim space safely because nothing
    marks a file committed). Self-verifying-constant oracle — the
    FFD-packing precedent."""
    gold = scratch_dir(sf_dir, "vacuum_gold")
    latest = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("s"))
        .select("user_id", "s.event_type")
    )
    for _ in range(5):
        write_gold_version(latest, gold)
    n_deleted, n_kept = vacuum_gold_versions(gold, keep=2)
    latest_v = latest_gold_version(gold)
    rows = read_latest_gold(spark, gold).count()
    return values_dim(
        spark,
        [(5, n_deleted, n_kept, latest_v, latest_v == 5, rows)],
        "versions_written bigint, n_deleted bigint, n_kept bigint,"
        " latest_after bigint, latest_readable boolean, latest_rows bigint",
    )
