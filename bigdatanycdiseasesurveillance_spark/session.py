"""SparkSession factory tuned for this engine.

The reference configures its sessions ad hoc per consumer
(reference: src/spark_consumers/relevance_consumer.py:89-102 — local[*],
parallelism 10, schema inference on). Here a single factory applies the
settings every operator relies on:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow on (all pandas-UDF paths are Arrow-batched);
- UTC session timezone (deterministic timestamp semantics vs the oracle);
- shuffle partitions sized from the core count, not the 200 default.

At cluster scale the same factory is used — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every query applies defensively even when the
# session is created by an external driver (runtime confs only).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # runtime-settable; externally-created sessions otherwise default to
    # 200 shuffle partitions — wasteful for the per-query shuffles here
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark 4 rejects INT64 TIMESTAMP(NANOS) parquet outright; read the
    # raw nanos as LongType and convert in tables.table() (the testdata
    # events.ts is ns-typed but µs-aligned, so the conversion is lossless
    # and matches DuckDB's ns->µs read).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "bdnds-engine", master: str | None = None) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (bench hygiene; tools/profile_query.py reads
        # per-job times from the event log); SPARK_GRAFT_UI=1/true/yes
        # turns it on for interactive inspection. Normalized:
        # spark.ui.enabled accepts only true/false, so a raw "1" would
        # throw INVALID_CONF_VALUE at SparkContext creation.
        .config(
            "spark.ui.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "").lower() in ("1", "true", "yes")
            else "false",
        )
    )
    return builder.getOrCreate()


# Sentinel attribute set on the SparkSession object itself. An id()-keyed
# set is wrong here: after a session is stopped and GC'd, a new session
# can reuse the same address and silently skip conf application (and the
# set would grow unbounded across session churn).
_CONFS_SENTINEL = "_bdnds_runtime_confs_applied"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-created session.

    The correctness driver owns its own SparkSession; timestamp/Arrow
    semantics must not depend on how that session was built. Applied
    once per session object — table() calls this on every read, and
    re-setting six confs is six Py4J round-trips of pure overhead.
    """
    if getattr(spark, _CONFS_SENTINEL, False):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable at runtime in this build — keep going
            pass
    try:
        setattr(spark, _CONFS_SENTINEL, True)
    except Exception:  # session proxy forbids attributes — fall through, re-apply next time
        pass
    return spark
