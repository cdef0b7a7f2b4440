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
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .domain.location import enrich_with_location
from .domain.normalize import normalize_events
from .functions.sql_text import ident, with_columns
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
    primary_vocab=None,
    secondary_vocab=None,
    hazard_vocab=None,
) -> PipelineResult:
    """Ingest a bronze JSON directory of posts with a `text` field and
    materialize silver + gold.

    Mirrors the reference's 4-stage chain (relevance -> dedup ->
    location -> load) as one lineage; the dedup tier here is the exact
    tier (first-id-wins per normalized-text fingerprint — deterministic,
    SURVEY §7.4 #1), with the near-dup tiers available as separate
    operators over the silver table.
    """
    bronze_obs, silver_obs = Observation(), Observation()
    bronze = read_json_any(spark, bronze_dir, schema).observe(
        bronze_obs, F.expr("count(1) AS n_bronze")
    )

    normalized = normalize_events(bronze, ts_candidates, id_candidates)
    kwargs = {}
    if primary_vocab:
        kwargs = dict(
            primary=primary_vocab, secondary=secondary_vocab, hazard=hazard_vocab
        )
    analyzed = extract_relevance(normalized, **kwargs)
    located = enrich_with_location(analyzed, spark)

    # exact-dedup tier: canonical = lowest id per normalized-text
    # fingerprint; is_duplicate marks the rest (kept, flagged — the
    # reference drops them; flagging preserves lineage for audits)
    # the window partitions by the fingerprint expression itself, so the
    # three columns are one projection; codegen's subexpression
    # elimination computes the shared fingerprint once per row
    fp = fingerprint(ident("text"))
    silver_cols = with_columns(
        located.columns,
        {
            "fp": fp,
            "is_duplicate": f"row_number() OVER (PARTITION BY {fp} ORDER BY id) > 1",
            "event_date": "to_date(`timestamp`)",
        },
    )
    silver = spark.sql(f"SELECT {silver_cols} FROM {{located}}", located=located)
    # count_if, not sum: a count over zero matching rows is 0, not NULL
    silver = silver.observe(
        silver_obs,
        F.expr("count_if(NOT is_duplicate) AS n_unique"),
        F.expr("count_if(is_relevant AND NOT is_duplicate) AS n_relevant"),
    )

    silver_path = os.path.join(out_dir, "silver_events")
    write_partitioned_parquet(
        silver, silver_path, ["event_date"], mode="overwrite"
    )
    silver_tbl = spark.read.schema(silver.schema).parquet(silver_path)

    gold_daily = spark.sql(
        """
        SELECT event_date, borough, count(*) AS cnt,
               round(avg(confidence), 4) AS avg_confidence
        FROM {silver} WHERE is_relevant AND NOT is_duplicate
        GROUP BY event_date, borough""",
        silver=silver_tbl,
    )
    gold_daily_path = os.path.join(out_dir, "gold_daily_borough")
    gold_daily.write.mode("overwrite").parquet(gold_daily_path)

    gold_severity = spark.sql(
        """
        SELECT severity, count(*) AS cnt, max(`timestamp`) AS last_seen
        FROM {silver} WHERE is_relevant AND NOT is_duplicate
        GROUP BY severity""",
        silver=silver_tbl,
    )
    gold_severity_path = os.path.join(out_dir, "gold_severity")
    gold_severity.write.mode("overwrite").parquet(gold_severity_path)

    try:
        counts = {**_observed(bronze_obs, "bronze"), **_observed(silver_obs, "silver")}
    except ValueError:
        # AQE drops both observing operators when no row reaches them
        # (an empty or all-malformed bronze corpus), so no metrics row
        # comes back. The silver write is the witness: if it produced
        # no data file, every count is 0; otherwise the contract broke.
        if len(silver_tbl._jdf.inputFiles()):
            raise
        counts = dict.fromkeys(("n_bronze", "n_unique", "n_relevant"), 0)
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
