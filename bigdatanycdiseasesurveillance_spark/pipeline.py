"""End-to-end batch pipeline: the engine's replacement for the
reference's subprocess-per-stage orchestration (reference:
run_project.py:331-481 — every stage a process, JSON files between
stages; SURVEY §3.1).

Here the whole chain is ONE Spark lineage:

    bronze JSON dirs -> normalize -> relevance -> location ->
    exact-dedup flag -> silver parquet (date-partitioned) ->
    gold aggregate tables

Stage boundaries are materialized parquet tables (bronze/silver/gold),
not process hops — restartable at any stage, and each stage's output is
a queryable table. No collect() anywhere; the only Spark actions are
the stage writes. The bronze, unique and relevant counts are observed
metrics that the silver write collects in the same pass, so no counting
scan runs, and silver is read back with the schema just written, so no
schema-inference job runs either.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .domain.location import enrich_with_location
from .domain.normalize import normalize_events
from .functions.text_funcs import fingerprint
from .operators.relevance import extract_relevance
from .sources.readers import read_json_any
from .sources.sinks import write_partitioned_parquet


@dataclass
class PipelineResult:
    silver_path: str
    gold_daily_path: str
    gold_severity_path: str
    n_bronze: int
    n_relevant: int
    n_unique: int


def run_pipeline(
    spark: SparkSession,
    bronze_dir: str,
    out_dir: str,
    schema: T.StructType,
    *,
    ts_candidates: list[str],
    id_candidates: list[str],
    text_col: str = "text",
    primary_vocab=None,
    secondary_vocab=None,
    hazard_vocab=None,
) -> PipelineResult:
    """Ingest a bronze JSON directory and materialize silver + gold.

    Mirrors the reference's 4-stage chain (relevance -> dedup ->
    location -> load) as one lineage; the dedup tier here is the exact
    tier (first-id-wins per normalized-text fingerprint — deterministic,
    SURVEY §7.4 #1), with the near-dup tiers available as separate
    operators over the silver table.
    """
    bronze_obs, silver_obs = Observation(), Observation()
    bronze = read_json_any(spark, bronze_dir, schema).observe(
        bronze_obs, F.count(F.lit(1)).alias("n_bronze")
    )

    normalized = normalize_events(
        bronze,
        ts_candidates=ts_candidates,
        id_candidates=id_candidates,
        content_cols=[text_col],
        text_col=text_col,
        source_file_col="source_path",
    )
    kwargs = {}
    if primary_vocab:
        kwargs = dict(
            primary=primary_vocab, secondary=secondary_vocab, hazard=hazard_vocab
        )
    analyzed = extract_relevance(normalized, text_col=text_col, **kwargs)
    located = enrich_with_location(analyzed, spark, text_col=text_col)

    # exact-dedup tier: canonical = lowest id per normalized-text
    # fingerprint; is_duplicate marks the rest (kept, flagged — the
    # reference drops them; flagging preserves lineage for audits)
    # the window partitions by the fingerprint expression itself, so the
    # three columns are one projection; codegen's subexpression
    # elimination computes the shared fingerprint once per row
    fp = fingerprint(F.col(text_col))
    w = Window.partitionBy(fp).orderBy("id")
    silver = located.withColumns(
        {
            "fp": fp,
            "is_duplicate": F.row_number().over(w) > 1,
            "event_date": F.to_date("timestamp"),
        }
    )
    # count_if, not sum: a count over zero matching rows is 0, not NULL
    silver = silver.observe(
        silver_obs,
        F.count_if(~F.col("is_duplicate")).alias("n_unique"),
        F.count_if(F.col("is_relevant") & ~F.col("is_duplicate")).alias("n_relevant"),
    )

    silver_path = os.path.join(out_dir, "silver_events")
    write_partitioned_parquet(
        silver, silver_path, ["event_date"], mode="overwrite"
    )
    silver_tbl = spark.read.schema(silver.schema).parquet(silver_path)

    relevant = silver_tbl.filter(F.col("is_relevant") & ~F.col("is_duplicate"))

    gold_daily = (
        relevant.groupBy("event_date", "borough")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("confidence"), 4).alias("avg_confidence"),
        )
    )
    gold_daily_path = os.path.join(out_dir, "gold_daily_borough")
    gold_daily.write.mode("overwrite").parquet(gold_daily_path)

    gold_severity = (
        relevant.groupBy("severity")
        .agg(F.count("*").alias("cnt"), F.max("timestamp").alias("last_seen"))
    )
    gold_severity_path = os.path.join(out_dir, "gold_severity")
    gold_severity.write.mode("overwrite").parquet(gold_severity_path)

    counts = {**_observed(bronze_obs, "bronze"), **_observed(silver_obs, "silver")}
    return PipelineResult(
        silver_path=silver_path,
        gold_daily_path=gold_daily_path,
        gold_severity_path=gold_severity_path,
        **counts,
    )


def _observed(obs: Observation, frame: str) -> dict:
    """The metrics the silver write observed on `frame`, as a dict.

    Spark completes an observation whose operator never reported (the
    adaptive plan dropped it) with an empty row, which PySpark cannot
    convert: fail naming the contract instead of returning None."""
    try:
        return obs.get
    except Py4JJavaError as e:
        raise ValueError(
            f"run_pipeline: the silver write must observe the {frame} "
            f"counts, but the {frame} observation returned no row"
        ) from e
