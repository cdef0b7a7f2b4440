"""SparkSession factory tuned for this engine.

The reference configures its sessions ad hoc per consumer
(reference: src/spark_consumers/relevance_consumer.py:89-102 — local[*],
parallelism 10, schema inference on). Here a single factory applies the
settings every operator relies on:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow on (all pandas-UDF paths are Arrow-batched);
- UTC session timezone (deterministic timestamp semantics vs the oracle);
- shuffle partitions sized from the core count, not the 200 default.

The factory is local-mode and launches the driver JVM itself (from
`python`, not `spark-submit`): that JVM is the only one, so classes put
on the driver's classpath reach every task.

Local file permissions. Without the native Hadoop library (libhadoop),
Hadoop's `RawLocalFileSystem.setPermission` starts a `chmod` process,
and it runs for every file, `.crc` and directory a write, a streaming
checkpoint or a state store creates: a warm seed-7 refresh started ~350
processes and a drain 330–530. Three confs replace that with a syscall:

- `spark.driver.extraClassPath` puts the jar built from `jvm/` (see
  `local_fs_jar`) on the driver JVM's classpath. It only takes effect
  when this factory launches the JVM.
- `spark.hadoop.fs.file.impl` makes `file://` resolve to
  `bdnds.NioLocalFileSystem`, Hadoop's checksummed `LocalFileSystem`
  over a raw FS whose `setPermission` calls `Files.setPosixFilePermissions`.
  File and directory modes are unchanged. (Without it `file://` resolves
  to Hive's `ProxyLocalFileSystem`, found through ServiceLoader.)
- `spark.sql.streaming.checkpointFileManagerClass` writes streaming
  checkpoints and state stores through the FileSystem API. The default
  manager goes through FileContext, whose `LocalFs` always builds the
  stock `RawLocalFileSystem`, so the FS above would not reach them.

A JVM started before this factory (by a plain `SparkSession.builder`,
since stopped) cannot load the jar; its sessions keep the stock FS and
the default checkpoint manager.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

NIO_FS_CLASS = "bdnds.NioLocalFileSystem"
LOCAL_FS_CONFS = {
    "spark.hadoop.fs.file.impl": NIO_FS_CLASS,
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}
_JVM_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")

# Runtime-settable confs every query applies defensively even when the
# session is created by an external driver (runtime confs only); the
# factory below starts its sessions with them.
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


def _javac_version(javac: str) -> str:
    """The JDK's `release` file, read without starting a JVM; `javac
    -version` where the JDK has none."""
    release = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(javac))), "release")
    try:
        with open(release) as fh:
            m = re.search(r'^JAVA_RUNTIME_VERSION="([^"]+)"', fh.read(), re.M)
        if m:
            return m.group(1)
    except OSError:
        pass
    return subprocess.run(
        [javac, "-version"], capture_output=True, text=True, check=True
    ).stdout.strip()


def local_fs_jar() -> str:
    """Path of the jar of `jvm/`'s classes, built on first use.

    Cached under `$XDG_CACHE_HOME/bdnds` (default `~/.cache/bdnds`),
    outside the checkout, and keyed by the sha256 of the sources and the
    javac version; `os.replace` makes a concurrent build safe. Needs a
    JDK: raises when no `javac` is on PATH."""
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "bdnds"
    )
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            f"cannot build the {NIO_FS_CLASS} jar in {cache}: no `javac` on PATH "
            "(the engine's session factory needs a JDK 17 or later)"
        )
    sources = sorted(glob.glob(os.path.join(_JVM_SRC, "bdnds", "*.java")))
    key = hashlib.sha256(_javac_version(javac).encode())
    for src in sources:
        with open(src, "rb") as fh:
            key.update(os.path.basename(src).encode() + b"\0" + fh.read())
    jar = os.path.join(cache, f"nio-localfs-{key.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(cache, exist_ok=True)
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    tmp = tempfile.mkdtemp(dir=cache)
    try:
        classes = os.path.join(tmp, "classes")
        built = subprocess.run(
            [javac, "--release", "17", "-d", classes,
             "-cp", os.path.join(spark_home, "jars", "*"), *sources],
            capture_output=True, text=True,
        )
        if built.returncode != 0:
            raise RuntimeError(f"javac failed building {jar}:\n{built.stderr}")
        part = os.path.join(tmp, "jar")
        with zipfile.ZipFile(part, "w") as zf:
            for root, _, files in os.walk(classes):
                for f in sorted(files):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, classes))
        os.replace(part, jar)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return jar


def get_spark(app_name: str = "bdnds-engine", master: str | None = None) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(map=RUNTIME_CONFS)
        # the factory's own planner settings, beyond RUNTIME_CONFS
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # launch-time confs
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # no UI: tools/profile_query.py and perfbench read per-job times
        # from the event log
        .config("spark.ui.enabled", "false")
    )
    if SparkContext._gateway is None:  # this call launches the JVM
        builder = builder.config("spark.driver.extraClassPath", local_fs_jar())
    elif not SparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(NIO_FS_CLASS):
        return builder.getOrCreate()  # a JVM launched without the jar
    return builder.config(map=LOCAL_FS_CONFS).getOrCreate()


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
