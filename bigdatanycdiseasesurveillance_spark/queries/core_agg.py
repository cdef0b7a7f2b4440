"""Aggregation query corpus (SURVEY §2.4 A1-A13) over `events` and
`documents`."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import aggregations as agg
from ..registry import register
from ..tables import table


@register(
    "agg_daily_type_counts",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               event_type,
               COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("agg", "A1", "A2"),
    bench=True,
)
def agg_daily_type_counts(spark, sf_dir):
    """A1/A2: daily per-type counts + value sums (the reference's
    daily_disease_counts materialized view shape)."""
    return agg.daily_counts(table(spark, sf_dir, "events"), "value")


@register(
    "agg_hourly_series",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
        FROM events GROUP BY 1
    """,
    tags=("agg", "A4"),
)
def agg_hourly_series(spark, sf_dir):
    """A4: hourly event time-series (dashboard hourly chart; reference:
    src/dashboard/app.py:137-155)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "agg_top_event_types",
    oracle="""
        SELECT event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1
        ORDER BY cnt DESC, event_type LIMIT 10
    """,
    tags=("agg", "A3", "O1"),
)
def agg_top_event_types(spark, sf_dir):
    """A3/O1: top-10 distribution with deterministic tie-break
    (reference: src/dashboard/app.py:72-195 ORDER BY count DESC LIMIT
    10). It aggregates THEN sorts the small aggregated side, so Spark
    plans TakeOrderedAndProject, never a global sort of raw rows."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("event_type"))
        .limit(10)
    )


@register(
    "agg_type_summary",
    oracle="""
        SELECT event_type, COUNT(*) AS cnt, MAX(ts) AS last_ts
        FROM events GROUP BY 1
    """,
    tags=("agg", "A5"),
)
def agg_type_summary(spark, sf_dir):
    """A5: per-group count + latest timestamp (reference:
    src/database/psql_db_client.py:211-222 borough_severity_summary)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.max("ts").alias("last_ts"))
    )


@register(
    "agg_global_stats",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT user_id) AS n_distinct_ids,
               MIN(ts) AS min_ts,
               MAX(ts) AS max_ts,
               CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
                          / COUNT(*), 4) AS DOUBLE) AS avg_value
        FROM events
    """,
    tags=("agg", "A6", "A9"),
)
def agg_global_stats(spark, sf_dir):
    """A6/A9: global stats row (count / distinct / min / max / avg;
    reference: src/database/psql_db_client.py:461-509). `avg_value`
    averages over the VALUE_DECIMAL-quantized exact sum."""
    return table(spark, sf_dir, "events").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_distinct_ids"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.round(
            F.expr(agg.exact_sum("value")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_value"),
    )


@register(
    "agg_value_mean_std",
    oracle="""
        SELECT event_type,
               COUNT(*) AS cnt,
               CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
                          / COUNT(*), 4) AS DOUBLE) AS mean_value,
               ROUND(STDDEV_SAMP(value), 4) AS std_value
        FROM events GROUP BY 1
    """,
    tags=("agg", "A7"),
)
def agg_value_mean_std(spark, sf_dir):
    """A7: historical mean/std per group, the z-score denominator
    (reference: src/analysis/disease_outbreak_forecaster.py:374-375).

    `mean_value` uses the VALUE_DECIMAL-quantized exact sum while
    `std_value` keeps the raw double path (its result is a generic
    irrational, so a 4dp-boundary landing has measure zero)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(
                F.expr(agg.exact_sum("value")).cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_value"),
            F.round(F.stddev_samp("value"), 4).alias("std_value"),
        )
    )


@register(
    "agg_user_type_histogram",
    oracle="""
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    """,
    tags=("agg", "A8"),
)
def agg_user_type_histogram(spark, sf_dir):
    """A8: per-entity histograms (pandas value_counts rollups, natively)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "agg_last_writer_wins",
    oracle="""
        SELECT user_id, event_type,
               event_id AS last_event_id,
               ROUND(value, 2) AS last_value
        FROM events
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC, event_id DESC) = 1
    """,
    tags=("agg", "A10"),
)
def agg_last_writer_wins(spark, sf_dir):
    """A10: last-writer-wins key dedup (upsert semantics, natively)."""
    ev = table(spark, sf_dir, "events")
    won = agg.latest_per_group(
        ev, ["user_id", "event_type"], [F.desc("ts"), F.desc("event_id")]
    )
    return won.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.round("value", 2).alias("last_value"),
    )


@register(
    "agg_value_k_corr",
    oracle="""
        SELECT ROUND(CORR(value,
                 CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4)
               AS corr_value
        FROM events
    """,
    tags=("agg", "A12", "json"),
)
def agg_value_k_corr(spark, sf_dir):
    """A12: Pearson correlation between a column and a JSON-extracted
    property (informal-vs-official correlation shape)."""
    ev = table(spark, sf_dir, "events")
    return agg.correlation(
        ev,
        F.col("value"),
        F.get_json_object("props", "$.k").cast("double"),
    )


@register(
    "agg_doc_source_stats",
    oracle="""
        SELECT source,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT lang) AS n_langs,
               ROUND(AVG(n_chars), 2) AS avg_chars,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1
    """,
    tags=("agg", "A13"),
)
def agg_doc_source_stats(spark, sf_dir):
    """A13: batch metadata summary (distinct-collect shape, as counts)."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "agg_rollup_daily",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               event_type,
               CAST(GROUPING(CAST(date_trunc('day', ts) AS DATE), event_type)
                    AS BIGINT) AS gid,
               COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY ROLLUP(CAST(date_trunc('day', ts) AS DATE), event_type)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup_daily(spark, sf_dir):
    """Hierarchical rollup (day, event_type) -> day -> grand total in
    ONE pass — the multi-grain aggregate the reference materializes as
    separate views (daily counts + global stats), computed as a single
    shuffle with grouping sets."""
    ev = table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    return ev.rollup("day", "event_type").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("cnt"),
        F.round(F.expr(agg.exact_sum("value")), 2)
        .cast("double")
        .alias("total_value"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS sketch_within_5pct
        FROM events GROUP BY event_type
    """,
    tags=("agg", "A9", "sketch"),
)
def agg_approx_distinct(spark, sf_dir):
    """A9 at scale: approx_count_distinct (HyperLogLog++, rsd=0.01)
    checked against the exact count per event_type. At 100 TB the exact
    distinct needs a full shuffle of the key space; the sketch is a
    fixed-size mergeable state that never shuffles raw values. The HLL
    estimate itself has no DuckDB twin, so the driver-checkable contract
    is self-verifying: the row carries the (oracle-able) exact count
    plus the sketch's 5%-relative-error bound as a boolean the oracle
    pins TRUE — an estimator regression flips the row red. The raw
    estimate stays pinned in tests/test_oracle_parity.py."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.01)
                - F.countDistinct("user_id")
            )
            # max(1, 5%) floor: for low-cardinality groups 0.05*exact < 1
            # and a ±1 sketch wobble is within estimator spec.
            <= F.greatest(F.lit(1.0), 0.05 * F.countDistinct("user_id"))
        ).alias("sketch_within_5pct"),
    )


@register(
    "agg_value_percentiles",
    oracle="""
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 4) AS p50,
               ROUND(quantile_cont(value, 0.9), 4) AS p90,
               ROUND(quantile_cont(value, 0.95), 4) AS p95
        FROM events GROUP BY event_type
    """,
    tags=("agg", "percentile"),
)
def agg_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB quantile_cont). At 100 TB the engine swaps this for
    percentile_approx — same query shape, sketch-sized shuffle."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
    )


@register(
    "agg_profile_documents",
    oracle="""
        SELECT 'doc_id' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
               MIN(CAST(doc_id AS VARCHAR)) AS min_str,
               MAX(CAST(doc_id AS VARCHAR)) AS max_str
        FROM documents
        UNION ALL
        SELECT 'lang', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT lang) AS BIGINT),
               MIN(CAST(lang AS VARCHAR)), MAX(CAST(lang AS VARCHAR))
        FROM documents
        UNION ALL
        SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(DISTINCT n_chars) AS BIGINT),
               MIN(CAST(n_chars AS VARCHAR)), MAX(CAST(n_chars AS VARCHAR))
        FROM documents
    """,
    tags=("agg", "profile"),
)
def agg_profile_documents(spark, sf_dir):
    """Per-column data profile of the documents corpus — null counts,
    distinct counts, min/max — the ingest-validation rollup a training
    pipeline runs before accepting a new data drop. Each column's
    profile is a global aggregate, so the whole profile is three
    single-row shuffles unioned together."""
    docs = table(spark, sf_dir, "documents")
    parts = [
        docs.agg(
            F.lit(c).alias("column"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col(c).isNull().cast("long")).cast("long").alias("n_null"),
            F.countDistinct(c).cast("long").alias("n_distinct"),
            F.min(F.col(c).cast("string")).alias("min_str"),
            F.max(F.col(c).cast("string")).alias("max_str"),
        )
        for c in ("doc_id", "lang", "n_chars")
    ]
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


@register(
    "agg_cube_region_type",
    oracle="""
        SELECT user_id % 5 AS region, event_type,
               CAST(GROUPING(user_id % 5, event_type) AS BIGINT) AS gid,
               COUNT(*) AS cnt
        FROM events
        GROUP BY CUBE(user_id % 5, event_type)
    """,
    tags=("agg", "cube"),
)
def agg_cube_region_type(spark, sf_dir):
    """CUBE over (region, event_type): all four grouping sets in one
    shuffle — the cross-dimensional rollup the reference materializes
    as separate dashboard queries."""
    ev = table(spark, sf_dir, "events").withColumn(
        "region", F.col("user_id") % 5
    )
    return ev.cube("region", "event_type").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("cnt"),
    )
