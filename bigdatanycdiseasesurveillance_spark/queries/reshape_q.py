"""Reshape + null-semantics query corpus (post-prefix registration).

Pivot/unpivot are the remaining first-class DataFrame reshape operators
not already in the corpus; the null-semantics suite pins Spark/ANSI
null behavior (null-safe equality, NULLIF/COALESCE chains) against
DuckDB's IS NOT DISTINCT FROM.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.sinks import scratch_dir
from ..tables import table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "reshape_pivot_daily_types",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
               CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
               CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
        FROM events
        GROUP BY 1
    """,
    tags=("reshape", "pivot"),
)
def reshape_pivot_daily_types(spark, sf_dir):
    """Pivot: long->wide daily event-type matrix. The pivot VALUES are
    explicit (no distinct-scan job to discover them — at 100 TB that
    pre-scan is a full pass); count(null->0) via coalesce so absent
    combos match the conditional-aggregation oracle."""
    ev = table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
            for t in EVENT_TYPES
        ],
    )


@register(
    "reshape_unpivot_roundtrip",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY 1, 2
    """,
    tags=("reshape", "unpivot"),
)
def reshape_unpivot_roundtrip(spark, sf_dir):
    """Unpivot (melt): wide->long inverse of the pivot — the roundtrip
    recovers the plain daily counts exactly (zero-filled combos drop,
    matching the long form's absent rows)."""
    wide = reshape_pivot_daily_types(spark, sf_dir)
    long = wide.unpivot(
        ["day"], EVENT_TYPES, "event_type", "cnt"
    ).filter(F.col("cnt") > 0)
    return long.select("day", "event_type", F.col("cnt").cast("long").alias("cnt"))


@register(
    "scalar_null_semantics",
    oracle="""
        WITH x AS (
            SELECT l_orderkey, l_linenumber,
                   NULLIF(l_quantity, 1) AS qa,
                   NULLIF(l_tax, 0) AS ta
            FROM lineitem
        )
        SELECT
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(COUNT(qa) AS BIGINT) AS n_qty_not1,
            CAST(SUM(CASE WHEN qa IS NOT DISTINCT FROM ta THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_nullsafe_eq,
            CAST(SUM(CASE WHEN qa = ta THEN 1 ELSE 0 END) AS BIGINT)
                AS n_plain_eq,
            CAST(SUM(CAST(COALESCE(qa, ta, -1) AS BIGINT)) AS BIGINT)
                AS coalesce_sum
        FROM x
    """,
    tags=("scalar", "null-semantics"),
)
def scalar_null_semantics(spark, sf_dir):
    """ANSI null semantics pinned cross-engine: NULLIF-derived nullable
    columns compared with null-safe equality (<=> / IS NOT DISTINCT
    FROM) vs plain = (null-dropping), plus a COALESCE fallback chain.
    n_nullsafe_eq > n_plain_eq is exactly the both-null row count."""
    li = table(spark, sf_dir, "lineitem")
    qa = F.nullif(F.col("l_quantity"), F.lit(1))
    ta = F.nullif(F.col("l_tax"), F.lit(0))
    return li.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count(qa).cast("long").alias("n_qty_not1"),
        F.sum(qa.eqNullSafe(ta).cast("long")).cast("long").alias("n_nullsafe_eq"),
        F.sum(F.when(qa == ta, 1).otherwise(0)).cast("long").alias("n_plain_eq"),
        F.sum(F.coalesce(qa, ta, F.lit(-1)).cast("long"))
        .cast("long")
        .alias("coalesce_sum"),
    )


@register(
    "udtf_token_spans",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), x -> x <> '')
                       AS tok
            FROM documents WHERE doc_id % 25 = 0
        )
        SELECT doc_id,
               CAST(i AS INTEGER) AS pos,
               tok[i + 1] AS token,
               CAST(length(tok[i + 1]) AS INTEGER) AS token_len
        FROM t, unnest(range(least(len(tok), 5))) AS u(i)
    """,
    tags=("udtf", "U5", "api"),
)
def udtf_token_spans(spark, sf_dir):
    """U5 as a REAL Python UDTF (Spark 4 `@udtf`): one input row fans
    out to one row per leading token (first 5) with position and
    length. The production path for this shape is native
    posexplode/slice — cross-checked here by the oracle, which IS that
    native formulation in SQL — so this entry exists to cover the
    Python-UDTF API surface (arbitrary Python fan-out logic), gated to
    a doc_id % 25 sample because row-at-a-time Python is the slow
    path by design."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, token string, token_len int")
    class TokenSpans:
        def eval(self, doc_id, text):
            toks = [t for t in (text or "").lower().split(" ") if t]
            for i, t in enumerate(toks[:5]):
                yield doc_id, i, t, len(t)

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    d.createOrReplaceTempView("udtf_docs_in")
    spark.udtf.register("token_spans", TokenSpans)
    return spark.sql(
        "SELECT s.* FROM udtf_docs_in d, "
        "LATERAL token_spans(d.doc_id, d.text) s"
    )


@register(
    "src_schema_evolution_merge",
    oracle="""
        SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS n_with_type,
               CAST(COUNT(*) AS BIGINT) AS n_null_type,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(SUM(event_id) * 2 AS BIGINT) AS id_checksum
        FROM events
    """,
    tags=("sources", "schema-evolution", "S2"),
)
def src_schema_evolution_merge(spark, sf_dir):
    """Schema evolution across snapshot versions: a v1 snapshot written
    with the narrow schema (event_id, ts, user_id) and a v2 snapshot
    with two added columns land in one directory; reading with
    mergeSchema=true unions the schemas, v1 rows surfacing NULL for the
    later columns — the append-only column-add contract every long-
    lived ingest needs (the reference re-infers schemas per run and
    silently drops mismatches). The profile row pins total/typed/null
    counts plus an id checksum across both snapshots.

    Scale: mergeSchema reconciles footers at planning time; the scan
    itself stays columnar with per-file projections — no rewrite of old
    snapshots when a column is added."""
    e = table(spark, sf_dir, "events")
    base = scratch_dir(sf_dir, "schemaevo")
    e.select("event_id", "ts", "user_id").write.mode("overwrite").parquet(
        f"{base}/v=1"
    )
    e.select("event_id", "ts", "user_id", "event_type", "value").write.mode(
        "overwrite"
    ).parquet(f"{base}/v=2")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(F.col("event_type").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_with_type"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_type"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.sum("event_id").cast("long").alias("id_checksum"),
    )


@register(
    "feat_quantile_normalize",
    oracle="""
        WITH src AS (
            SELECT event_type, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
        ), gq AS (
            SELECT value AS gval,
                   ROW_NUMBER() OVER (ORDER BY value, event_id) AS grank
            FROM events
        ), tot AS (SELECT COUNT(*) AS big_n FROM events),
        mapped AS (
            SELECT s.event_type, s.rn, s.n,
                   ((s.rn - 1) * (t.big_n - 1)) // (s.n - 1) + 1 AS grank
            FROM src s, tot t WHERE s.n > 1
        ), probes AS (
            SELECT m.event_type,
                   CASE WHEN m.rn = 1 THEN 'p0'
                        WHEN m.rn = (m.n + 1) // 2 THEN 'p50'
                        WHEN m.rn = m.n THEN 'p100' END AS probe,
                   g.gval
            FROM mapped m JOIN gq g ON g.grank = m.grank
            WHERE m.rn IN (1, (m.n + 1) // 2, m.n)
        )
        SELECT event_type, probe, ROUND(gval, 2) AS normalized_value
        FROM probes
    """,
    tags=("feature", "quantile-normalize", "reshape"),
)
def feat_quantile_normalize(spark, sf_dir):
    """Quantile normalization across strata (the ML-preprocessing
    transform that maps each stratum's value distribution onto the
    GLOBAL distribution): a row at within-stratum rank rn maps to the
    global value at rank floor((rn-1)(N-1)/(n-1)) + 1 — exact integer
    rank arithmetic, so the mapping can never drift on a float
    boundary. Emitted as min/median/max probes per stratum (the
    transform applied at three pinned ranks). Scale: the per-stratum
    window shuffles on the stratum key; the GLOBAL ranking uses the
    bucketed-rank device (operators/ranking.py, r10 verdict directive
    #5) — rows range-bucket by floor(value) (bounded by the value
    range, not the corpus), rank locally, and add control-plane
    prefix-summed offsets — identical to the oracle's naive
    `ROW_NUMBER() OVER (ORDER BY value, event_id)` by construction,
    with no single-partition window in the plan."""
    from ..operators.ranking import bucketed_global_rank

    ev = table(spark, sf_dir, "events")
    wsrc = Window.partitionBy("event_type").orderBy("value", "event_id")
    src = (
        ev.select("event_type", "event_id", "value")
        .withColumn("rn", F.row_number().over(wsrc))
        .withColumn(
            "n", F.count("*").over(Window.partitionBy("event_type"))
        )
    )
    glob = bucketed_global_rank(
        ev.select(F.col("value").alias("gval"), "event_id"),
        F.floor("gval").cast("long"),
        [F.asc("gval"), F.asc("event_id")],
        rank_col="grank",
    ).select("gval", "grank")
    big_n = ev.count()
    # rank arithmetic in BIGINT: row_number() is INT, and
    # (rn-1)*(N-1) overflows int32 once N reaches ~1M rows (sf1 find)
    mapped = src.filter(F.col("n") > 1).withColumn(
        "grank",
        F.expr(f"(CAST(rn AS BIGINT) - 1) * ({big_n}L - 1) DIV (CAST(n AS BIGINT) - 1) + 1"),
    )
    probes = (
        mapped.filter(
            (F.col("rn") == 1)
            | (F.col("rn") == F.expr("(n + 1) DIV 2"))
            | (F.col("rn") == F.col("n"))
        )
        .join(glob, "grank")
        .select(
            "event_type",
            F.when(F.col("rn") == 1, "p0")
            .when(F.col("rn") == F.expr("(n + 1) DIV 2"), "p50")
            .otherwise("p100")
            .alias("probe"),
            F.round("gval", 2).alias("normalized_value"),
        )
    )
    return probes
