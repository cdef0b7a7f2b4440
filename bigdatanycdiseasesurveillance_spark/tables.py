"""Table loaders for the synthetic star schema (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf directory.

Loads are plain ``spark.read.parquet`` so Catalyst retains full pushdown
and pruning; nothing is cached here (callers decide lifetime). At 100 TB
these would be date/key-partitioned directories — the loader API is
unchanged, only the paths gain partition subdirs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.sql_text import dlit, ident, slit
from .session import apply_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session-scoped parquet SCHEMA memo (metadata only, never data): every
# bare spark.read.parquet() runs a footer-inference job on the driver
# (~30-70 ms + a scheduler round trip), and the bench pays it once per
# table() call — ~50+ times per run (profiling shows a 'parquet at
# NativeMethodAccessorImpl' job in every query). Passing the schema
# explicitly skips inference while keeping pushdown/pruning identical.
# Keyed by applicationId so a new SparkContext (tests churn sessions)
# never sees a stale entry; the same device as Spark's own
# filesourcePartitionFileCacheSize listing cache (guide §6).
_SCHEMA_MEMO: dict = {}


def live_memo(memo: dict, app_id: str) -> dict:
    """`memo`, keyed by (applicationId, ...) tuples, with the entries of
    every other SparkContext dropped: a stopped context's schemas and
    frames are never read again, so keeping them only holds memory."""
    for key in [k for k in memo if k[0] != app_id]:
        del memo[key]
    return memo


def raw_parquet_schema(spark: SparkSession, path: str):
    # (mtime_ns, size) in the key: a fixture regenerated at the same
    # path mid-session re-infers instead of silently reading with a
    # stale schema; os.stat is ~1000x cheaper than inference. A
    # directory path (the 100 TB layout) stats the dir — partition
    # rewrites bump the dir mtime on file add/remove, and a same-name
    # in-place file swap is not a pattern the loader contract supports.
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # let spark.read.parquet raise its own error
    app = spark.sparkContext.applicationId
    key = (app, path, stamp)
    s = live_memo(_SCHEMA_MEMO, app).get(key)
    if s is None:
        s = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = s
    return s


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(raw_parquet_schema(spark, path)).parquet(path)
    return normalize_timestamps(df)


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize every event-time encoding the driver has shipped so far
    to plain TimestampType (the only type ``withWatermark`` accepts):

    - INT64 TIMESTAMP(NANOS) parquet arrives as LongType nanos under
      ``nanosAsLong`` (the older test data); convert via integer division
      (DIV — double division would lose precision on 1e18-scale epochs);
    - ``timestamp[us]`` with isAdjustedToUTC=false arrives as
      TIMESTAMP_NTZ (the newer test data); cast to TIMESTAMP, which under
      the pinned UTC session timezone is a value-preserving
      reinterpretation (wall clock == instant), keeping hash parity with
      the DuckDB oracle's naive read.
    """
    exprs = {}
    for field in df.schema.fields:
        simple = field.dataType.simpleString()
        if field.name == "ts" and simple == "bigint":
            exprs["ts"] = "timestamp_micros(ts DIV 1000)"
        elif simple == "timestamp_ntz":
            exprs[field.name] = f"CAST({ident(field.name)} AS TIMESTAMP)"
    if not exprs:
        return df
    return df.withColumns({name: F.expr(e) for name, e in exprs.items()})


def parallelize_scan(df: DataFrame) -> DataFrame:
    """Round-robin rebalance a scan whose split count starves the cores.

    Spark's parallelism unit for parquet is the row group; the bench
    corpus ships one row group per table, so a shuffle-free pipeline
    (e.g. the all-broadcast location cascade) would otherwise run on a
    single core of local[32]. At 100 TB inputs have thousands of row
    groups and this is a no-op — the rebalance only fires when the scan
    has fewer splits than the session's parallelism, which on a real
    cluster means a pathologically small input where the shuffle is
    trivially cheap anyway.
    """
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    # probe via inputFiles (ms) — df.rdd.getNumPartitions() costs
    # ~0.3s of RDD-conversion per distinct plan. File count slightly
    # undercounts splits for multi-row-group files; the only effect is
    # one extra cheap round-robin shuffle on inputs small enough that
    # the rebalance helps the downstream Python/codegen work anyway.
    # _jdf.inputFiles() is one round trip: PySpark's inputFiles() lists
    # the returned Java array element by element, one round trip each
    try:
        n_files = len(df._jdf.inputFiles())
    except Exception:
        return df
    if n_files == 0 or n_files >= target:
        return df
    return df.repartition(target)


def values_dim(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small-dimension constructor that plans as a LocalRelation.

    ``spark.createDataFrame(list)`` in PySpark round-trips through an
    RDD and plans as ``Scan ExistingRDD`` with defaultParallelism
    partitions — so every broadcast of such a dim is a real 32-task
    job. Emitting the rows as a SQL VALUES clause instead yields
    ``LocalTableScan``, which BroadcastExchange collects driver-side
    with NO job: a KB-sized dim costs nothing at execution time, which
    is what a dimension table should cost. Literal-only, for static
    in-code dims (strings, numbers, bools, string-arrays, None).

    `schema` is a DDL string ("name type, ..."); each column is cast to
    its declared type so VALUES' literal-inference (e.g. INT where the
    caller wants BIGINT) can't leak into join-key types.
    """

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return slit(v)
        if isinstance(v, float):
            return dlit(v)
        if isinstance(v, int):
            return str(v)
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(lit(x) for x in v) + ")"
        raise TypeError(f"values_dim: unsupported literal {type(v)}")

    cols = [c.strip().split(None, 1) for c in _split_ddl(schema)]
    names = [c[0] for c in cols]
    casts = ", ".join(
        f"CAST({n} AS {t}) AS {n}" for n, t in ((c[0], c[1]) for c in cols)
    )
    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return spark.sql(
        f"SELECT {casts} FROM (VALUES {body}) AS t({', '.join(names)})"
    )


def _split_ddl(schema: str) -> list[str]:
    """Split a DDL column list on top-level commas (array<..,..> safe)."""
    out, depth, cur = [], 0, []
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [table(spark, sf_dir, n) for n in names]
