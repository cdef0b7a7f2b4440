"""Scalar-function query corpus (SURVEY §2.8: string / date / math /
JSON / hash families) — each family exercised end-to-end with oracle
parity. Regex patterns are kept to the common subset of Java regex
(Spark) and RE2 (DuckDB); DuckDB regexp_replace needs the 'g' flag to
match Spark's replace-all semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text_funcs import fingerprint
from ..operators.aggregations import exact_sum
from ..registry import register
from ..tables import table


@register(
    "scalar_string_suite",
    oracle="""
        SELECT doc_id,
               upper(source) AS src_upper,
               substring(text, 1, 20) AS text_head,
               length(text) AS text_len,
               length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS n_vowels,
               CASE WHEN n_chars >= 400 THEN 'long'
                    WHEN n_chars >= 150 THEN 'medium'
                    ELSE 'short' END AS size_class,
               concat_ws('-', source, lang) AS src_lang
        FROM documents
    """,
    tags=("scalar", "string"),
)
def scalar_string_suite(spark, sf_dir):
    """String family: upper/substring/length/regexp_replace/CASE/concat_ws."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("source").alias("src_upper"),
        F.substring("text", 1, 20).alias("text_head"),
        F.length("text").alias("text_len"),
        F.length(F.regexp_replace(F.lower(F.col("text")), "[^aeiou]", "")).alias("n_vowels"),
        F.when(F.col("n_chars") >= 400, "long")
        .when(F.col("n_chars") >= 150, "medium")
        .otherwise("short")
        .alias("size_class"),
        F.concat_ws("-", "source", "lang").alias("src_lang"),
    )


@register(
    "scalar_date_parts",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               date_part('dow', ts) AS dow,
               date_part('hour', ts) AS hod,
               COUNT(*) AS cnt
        FROM events
        GROUP BY 1, 2, 3
    """,
    tags=("scalar", "date"),
)
def scalar_date_parts(spark, sf_dir):
    """Date family: trunc + dow/hour extraction. Spark dayofweek is
    1=Sunday, DuckDB dow is 0=Sunday — normalized to DuckDB's 0-base."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count("*").alias("cnt"))


@register(
    "scalar_json_props",
    oracle="""
        SELECT event_type,
               ROUND(AVG(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY 1
    """,
    tags=("scalar", "json"),
)
def scalar_json_props(spark, sf_dir):
    """JSON family: get_json_object extraction + typed aggregation
    (raw_data JSONB access in the reference)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k.cast("double")), 4).alias("avg_k"),
        F.max(k.cast("long")).alias("max_k"),
    )


@register(
    "scalar_hash_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
                                  ' +', ' ', 'g')) AS fp,
               sha256(text) AS text_sha
        FROM documents
    """,
    tags=("scalar", "hash", "text"),
)
def scalar_hash_fingerprint(spark, sf_dir):
    """Hash family: md5 normalized-text fingerprint + sha256 — the
    reference's exact-dup hashing (SHA-256,
    reference: src/spark_consumers/deduplication_consumer.py:138-148)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(fingerprint("text")).alias("fp"),
        F.sha2(F.col("text"), 256).alias("text_sha"),
    )


@register(
    "scalar_math_suite",
    oracle="""
        SELECT event_id,
               ROUND(GREATEST(0.0, LEAST(value, 150.0)), 2) AS clipped,
               ROUND(sqrt(abs(value)), 4) AS root,
               ROUND(ln(value + 1.0), 4) AS log1p_value,
               CAST(floor(value / 50.0) AS BIGINT) AS bucket
        FROM events
    """,
    tags=("scalar", "math"),
)
def scalar_math_suite(spark, sf_dir):
    """Math family: clip (greatest/least, the reference's confidence cap
    min(x, 0.90)), sqrt/ln, floor-bucketing."""
    ev = table(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        F.round(F.greatest(F.lit(0.0), F.least(v, F.lit(150.0))), 2).alias("clipped"),
        F.round(F.sqrt(F.abs(v)), 4).alias("root"),
        F.round(F.log(v + 1.0), 4).alias("log1p_value"),
        F.floor(v / 50.0).cast("long").alias("bucket"),
    )


@register(
    "sql_dashboard_severity",
    oracle="""
        WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
        SELECT event_type,
               CASE WHEN event_type IN ('error')            THEN 'severe'
                    WHEN event_type IN ('purchase','signup') THEN 'moderate'
                    ELSE 'mild' END AS severity,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
                          / COUNT(*), 2) AS DOUBLE) AS avg_value
        FROM events, mx
        WHERE ts >= mx.max_ts - INTERVAL 72 HOURS
        GROUP BY event_type
        ORDER BY cnt DESC, event_type
        LIMIT 10
    """,
    tags=("sql", "P7", "A3", "O1"),
)
def sql_dashboard_severity(spark, sf_dir):
    """The dashboard query shape (reference: src/dashboard/app.py:43-195)
    expressed through the engine's SQL surface: registered temp views +
    spark.sql, with the P7 trailing-time-window predicate (anchored to
    the corpus max timestamp, not wall clock, for determinism), the CASE
    severity mapping, and ORDER BY count LIMIT top-N."""
    from ..tables import table

    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        f"""
        WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
        SELECT event_type,
               CASE WHEN event_type IN ('error')             THEN 'severe'
                    WHEN event_type IN ('purchase','signup') THEN 'moderate'
                    ELSE 'mild' END AS severity,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(ROUND(CAST({exact_sum("value")} AS DOUBLE)
                          / COUNT(*), 2) AS DOUBLE) AS avg_value
        FROM events CROSS JOIN mx
        WHERE ts >= mx.max_ts - INTERVAL 72 HOURS
        GROUP BY event_type
        ORDER BY cnt DESC, event_type
        LIMIT 10
        """
    )


@register(
    "scalar_variant_props",
    oracle="""
        SELECT CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10.0)
                    AS BIGINT) AS k_band,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER))
                    AS BIGINT) AS k_sum
        FROM events
        GROUP BY 1
    """,
    tags=("scalar", "variant", "semistructured"),
)
def scalar_variant_props(spark, sf_dir):
    """Spark 4 VARIANT path for semi-structured props: parse_json once
    into the binary VARIANT encoding, then typed variant_get access —
    the engine-native successor to per-access get_json_object string
    re-parsing (scalar_json_props covers that classic path). At 100 TB
    the difference is one parse per row vs one per extraction."""
    e = table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        e.select(k.alias("k"))
        .groupBy(F.floor(F.col("k") / 10).cast("long").alias("k_band"))
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("k").cast("long").alias("k_sum"),
        )
    )


@register(
    "scalar_variant_try_paths",
    oracle="""
        WITH mod AS (
            SELECT event_type,
                   event_id % 4 AS kind,
                   json_extract_string(props, '$.k') AS kv,
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
            SELECT event_type, kind,
                   TRY_CAST(json_extract_string(mp, '$.k') AS BIGINT)
                       AS k_int,
                   TRY_CAST(json_extract_string(mp, '$.k.nested') AS BIGINT)
                       AS k_nested,
                   TRY_CAST(json_extract_string(mp, '$.absent') AS BIGINT)
                       AS k_absent
            FROM mod
        )
        SELECT event_type, kind,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(COUNT(k_int) AS BIGINT) AS n_int,
               CAST(COALESCE(SUM(k_int), 0) AS BIGINT) AS sum_int,
               CAST(COUNT(k_nested) AS BIGINT) AS n_nested,
               CAST(COALESCE(SUM(k_nested), 0) AS BIGINT) AS sum_nested,
               CAST(COUNT(k_absent) AS BIGINT) AS n_absent,
               CASE kind
                 WHEN 0 THEN 'OBJECT<k: BIGINT>'
                 WHEN 1 THEN 'OBJECT<k: OBJECT<nested: BIGINT>>'
                 ELSE 'OBJECT<k: STRING>'
               END AS variant_schema
        FROM ext
        GROUP BY event_type, kind
    """,
    tags=("scalar", "variant", "semistructured", "spark4"),
)
def scalar_variant_try_paths(spark, sf_dir):
    """Spark 4 VARIANT graceful-access showcase: heterogeneous JSON
    (the same key carrying an int, a nested object, or a string,
    derived deterministically from event_id % 4) parsed ONCE into the
    binary VARIANT encoding, then probed with try_variant_get — typed
    access that returns NULL instead of failing when the path is
    absent, the shape is an object, or the cast can't coerce
    (numeric strings DO coerce: variant '"33"' as int = 33; 'lvl33'
    and objects are NULL). schema_of_variant pins the per-shape
    inferred schema string; the oracle replays the coercion matrix
    with json_extract + TRY_CAST and the schema strings as literals.

    scalar_variant_props covers the happy-path typed get; this entry
    is the messy-data contract a 100 TB semi-structured ingest
    actually needs: one parse per row, then any number of typed probes
    that can't abort the job on a malformed record."""
    return variant_probe_counts(
        table(spark, sf_dir, "events"),
        ["event_type", "kind"],
        F.min(F.schema_of_variant("v")).alias("variant_schema"),
    )


def variant_probe_counts(events, keys, *extra_aggs):
    """The coercion matrix over `keys`: the event_id % 4 shapes of
    props' `k` (int / nested object / non-numeric string / numeric
    string) parsed once into VARIANT column `v` with its `kind`, probed
    with three typed try_variant_get paths, and counted. The frame of
    scalar_variant_try_paths and, over the event stream, of
    stream_variant_ingest."""
    kv = F.get_json_object(F.col("props"), "$.k")
    kind = (F.col("event_id") % 4).cast("bigint")
    mp = (
        F.when(kind == 0, F.col("props"))
        .when(kind == 1, F.concat(F.lit('{"k": {"nested": '), kv, F.lit("}}")))
        .when(kind == 2, F.concat(F.lit('{"k": "lvl'), kv, F.lit('"}')))
        .otherwise(F.concat(F.lit('{"k": "'), kv, F.lit('"}')))
    )
    probed = events.select(
        "event_type", kind.alias("kind"), F.parse_json(mp).alias("v")
    ).select(
        "event_type",
        "kind",
        "v",
        F.try_variant_get("v", "$.k", "bigint").alias("k_int"),
        F.try_variant_get("v", "$.k.nested", "bigint").alias("k_nested"),
        F.try_variant_get("v", "$.absent", "bigint").alias("k_absent"),
    )
    return probed.groupBy(*keys).agg(
        F.count("*").cast("long").alias("cnt"),
        F.count("k_int").cast("long").alias("n_int"),
        F.coalesce(F.sum("k_int"), F.lit(0)).cast("long").alias("sum_int"),
        F.count("k_nested").cast("long").alias("n_nested"),
        F.coalesce(F.sum("k_nested"), F.lit(0)).cast("long").alias("sum_nested"),
        F.count("k_absent").cast("long").alias("n_absent"),
        *extra_aggs,
    )
