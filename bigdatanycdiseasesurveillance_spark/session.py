"""SparkSession factory tuned for this engine.

The reference configures its sessions ad hoc per consumer
(reference: src/spark_consumers/relevance_consumer.py:89-102 — local[*],
parallelism 10, schema inference on). Here a single factory applies the
settings every operator relies on:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow on (all pandas-UDF paths are Arrow-batched);
- UTC session timezone (deterministic timestamp semantics vs the oracle);
- local cores, default parallelism and shuffle partitions are one count,
  `SPARK_GRAFT_CPUS` or else the CPUs the process may run on, not the
  200 default;
- a codegen cache of CODEGEN_CACHE_ENTRIES generated classes, not 100.
  Spark compiles each distinct generated source once per cache entry.
  perfbench's two workloads compile 182 distinct classes in one JVM
  (87 for the refresh, 95 more for the four registry reads, which
  compile 104 on their own), and a registry pass at sf0.001 after them
  brings the JVM to 3,846. With 100 entries the four reads evict each
  other in a cycle and recompile 32–57 classes every warm round (0.4–0.8
  s of Janino); 5,000 holds the whole registry with ~30 % headroom.

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

Class-data sharing. A cold driver JVM loads ~25,000 classes before its
first refresh ends. When the factory launches the JVM it also hands it
an AppCDS archive (HotSpot's class-data-sharing archive, a file of
pre-parsed classes the JVM maps at start):

- On a miss the JVM dumps the archive when it exits
  (`-XX:ArchiveClassesAtExit`): after a perfbench run, 182 MB and 9 s
  added to the exit on 4 cores. Every later launch maps it
  (`-XX:SharedArchiveFile`, `-Xshare:auto`, `-XX:+VerifySharedSpaces`).
- It is cached beside the jar as `driver-<key>.jsa`, keyed by the
  release of the JDK the launcher runs, the names, sizes and mtimes of
  the Spark jars, and the jar's name. A miss deletes the archives of
  other keys; the jar is never touched.
- A stopped dump leaves a file without the header magic (HotSpot writes
  the header last), and that is a miss. JDK 17 maps a truncated archive
  without checking its size and dies of SIGBUS, so `_archive_complete`
  also checks that every region lies in the file; only JDK 17's header
  is read, so another JDK launches without an archive.
- An archive the JVM refuses anyway (a failed checksum, a moved cache)
  is dropped silently by `-Xshare:auto`. The factory then finds it
  absent from the JVM's memory maps and deletes it, so the next launch
  dumps a good one.
- The launcher puts `$SPARK_CONF_DIR` (default `$SPARK_HOME/conf`) on
  the driver classpath. A directory with files there makes a dump fail
  at JVM start and makes a later launch drop the archive ("shared class
  paths mismatch"). So the launch runs with `SPARK_CONF_DIR` set to an
  empty dir in the cache, set in `os.environ` for the launch only and
  restored after it, on success or failure.
- That swap is made only when the caller's conf dir holds nothing Spark
  reads (no file but `*.template`) and no env var puts a directory on
  the classpath (`_CLASSPATH_ENV`). Otherwise the JVM launches as
  before, with no archive.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shutil
import struct
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
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark 4 rejects INT64 TIMESTAMP(NANOS) parquet outright; read the
    # raw nanos as LongType and convert in tables.table() (the testdata
    # events.ts is ns-typed but µs-aligned, so the conversion is lossless
    # and matches DuckDB's ns->µs read).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}
# HotSpot's dynamic-archive magic, as the little-endian header writes it
CDS_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# env vars whose value the launcher puts on the driver classpath
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES", "SPARK_TESTING",
)
CODEGEN_CACHE_ENTRIES = 5000  # see the module docstring


def default_parallelism() -> int:
    """Local cores, default parallelism and shuffle partitions:
    `SPARK_GRAFT_CPUS` when set, else the CPUs this process may run on.
    Read at call time, so a caller may set it after importing this."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def runtime_confs() -> dict[str, str]:
    """RUNTIME_CONFS and the shuffle partitions: an external session
    otherwise has 200, wasteful for the per-query shuffles here."""
    return {**RUNTIME_CONFS, "spark.sql.shuffle.partitions": str(default_parallelism())}


def _cache_dir() -> str:
    return os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "bdnds"
    )


def _spark_home() -> str:
    return os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)


def _jdk_release(binary: str) -> str:
    """The JDK's `release` file, read without starting a JVM; `<binary>
    -version` where the JDK has none."""
    release = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(binary))), "release")
    try:
        with open(release) as fh:
            m = re.search(r'^JAVA_RUNTIME_VERSION="([^"]+)"', fh.read(), re.M)
        if m:
            return m.group(1)
    except OSError:
        pass
    done = subprocess.run([binary, "-version"], capture_output=True, text=True, check=True)
    return (done.stdout + done.stderr).strip()


def local_fs_jar() -> str:
    """Path of the jar of `jvm/`'s classes, built on first use.

    Cached under `$XDG_CACHE_HOME/bdnds` (default `~/.cache/bdnds`),
    outside the checkout, and keyed by the sha256 of the sources and the
    javac version; `os.replace` makes a concurrent build safe. Needs a
    JDK: raises when no `javac` is on PATH."""
    cache = _cache_dir()
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            f"cannot build the {NIO_FS_CLASS} jar in {cache}: no `javac` on PATH "
            "(the engine's session factory needs a JDK 17 or later)"
        )
    sources = sorted(glob.glob(os.path.join(_JVM_SRC, "bdnds", "*.java")))
    key = hashlib.sha256(_jdk_release(javac).encode())
    for src in sources:
        with open(src, "rb") as fh:
            key.update(os.path.basename(src).encode() + b"\0" + fh.read())
    jar = os.path.join(cache, f"nio-localfs-{key.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(cache, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=cache)
    try:
        classes = os.path.join(tmp, "classes")
        built = subprocess.run(
            [javac, "--release", "17", "-d", classes,
             "-cp", os.path.join(_spark_home(), "jars", "*"), *sources],
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


def _driver_archive(jar: str) -> str | None:
    """Path of the driver JVM's AppCDS archive, or None where the
    factory launches without one: a conf dir or an env var would put a
    directory with files on the driver classpath, or the JDK is not 17.

    Keyed by the release of the JDK the launcher runs, the names, sizes
    and mtimes of the Spark jars, and the name of `jar`."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_spark_home(), "conf")
    conf_files = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    if any(os.environ.get(v) for v in _CLASSPATH_ENV) or not all(
        f.endswith(".template") for f in conf_files
    ):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        return None
    release = _jdk_release(java)
    if not re.match(r"17\b", release):  # _archive_complete reads JDK 17's header
        return None
    os.makedirs(_empty_conf_dir(), exist_ok=True)
    if os.listdir(_empty_conf_dir()):
        return None
    key = hashlib.sha256(release.encode())
    for path in sorted(glob.glob(os.path.join(_spark_home(), "jars", "*"))):
        st = os.stat(path)
        key.update(f"{os.path.basename(path)}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    key.update(os.path.basename(jar).encode())
    return os.path.join(_cache_dir(), f"driver-{key.hexdigest()[:16]}.jsa")


def _empty_conf_dir() -> str:
    return os.path.join(_cache_dir(), "empty-conf")


def _archive_complete(path: str) -> bool:
    """Whether ``path`` is a whole JDK 17 dynamic archive.

    HotSpot writes the header last, so a dump that was stopped, like a
    zeroed file, has no magic. JDK 17 maps a truncated archive without
    checking its size and dies of SIGBUS, so every region must lie in the
    file: the header's version 11 layout is magic, crc and version, then
    7 regions of 72 bytes from byte 16, each with its file offset at +24
    and its length at +40."""
    try:
        with open(path, "rb") as fh:
            head = fh.read(16 + 7 * 72)
            size = os.fstat(fh.fileno()).st_size
    except OSError:
        return False
    if len(head) < 16 + 7 * 72 or head[:4] != CDS_DYNAMIC_MAGIC or head[8:12] != b"\x0b\0\0\0":
        return False
    for region in range(16, 16 + 7 * 72, 72):
        offset, _, used = struct.unpack_from("<3Q", head, region + 24)
        if offset + used > size:
            return False
    return True


def _archive_mapped(spark: SparkSession, archive: str) -> bool:
    """Whether the driver JVM kept ``archive`` mapped: `-Xshare:auto`
    drops one it refuses (a failed checksum, a stale jar) without a
    word."""
    pid = spark.sparkContext._gateway.proc.pid
    try:
        with open(f"/proc/{pid}/maps") as fh:
            return os.path.realpath(archive) in fh.read()
    except OSError:  # no procfs
        return True


def _launch(builder, jar: str) -> SparkSession:
    """Launch the driver JVM with `jar` on its classpath and the AppCDS
    archive: mapped when it is complete, else dumped when the JVM exits."""
    builder = builder.config("spark.driver.extraClassPath", jar).config(map=LOCAL_FS_CONFS)
    archive = _driver_archive(jar)
    if archive is None:
        return builder.getOrCreate()
    hit = _archive_complete(archive)
    if hit:
        share = f"-XX:SharedArchiveFile={archive} -Xshare:auto -XX:+VerifySharedSpaces"
    else:  # the cache keeps the current key's archive only
        for old in glob.glob(os.path.join(_cache_dir(), "driver-*.jsa")):
            with contextlib.suppress(FileNotFoundError):  # another launch's miss
                os.remove(old)
        share = f"-XX:ArchiveClassesAtExit={archive}"
    # the launch's child env is os.environ: swap the conf dir for it only
    caller_conf = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = _empty_conf_dir()
    try:
        spark = builder.config(
            "spark.driver.extraJavaOptions", f"{share} -Xlog:cds*=error"
        ).getOrCreate()
    finally:
        if caller_conf is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = caller_conf
    if hit and not _archive_mapped(spark, archive):
        with contextlib.suppress(FileNotFoundError):
            os.remove(archive)  # so that the next launch dumps a good one
    return spark


def get_spark(app_name: str = "bdnds-engine", master: str | None = None) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(map=runtime_confs())
        # the factory's own planner settings, beyond RUNTIME_CONFS
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # launch-time confs
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # no UI: tools/profile_query.py and perfbench read per-job times
        # from the event log
        .config("spark.ui.enabled", "false")
    )
    if SparkContext._gateway is None:  # this call launches the JVM
        return _launch(builder, local_fs_jar())
    if not SparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(NIO_FS_CLASS):
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
    for k, v in runtime_confs().items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable at runtime in this build — keep going
            pass
    try:
        setattr(spark, _CONFS_SENTINEL, True)
    except Exception:  # session proxy forbids attributes — fall through, re-apply next time
        pass
    return spark
