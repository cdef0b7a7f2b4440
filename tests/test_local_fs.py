"""The local FileSystem the session factory installs (`session.py`,
`jvm/`): `file://` is `bdnds.NioLocalFileSystem`, which sets permissions
with a syscall instead of a `chmod` process, and streaming checkpoints
are written through it. Files and directories keep Hadoop's default
modes."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from bigdatanycdiseasesurveillance_spark import session
from bigdatanycdiseasesurveillance_spark.registry import all_specs
from bigdatanycdiseasesurveillance_spark.streaming.pipelines import stream_table

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Measured at the parent of this change (stock RawLocalFileSystem, one
# `chmod` process per file and directory; local[4], warm, 5 runs): the
# 30-partition write below allocated 194-215 PIDs and
# `stream_dedup_within_watermark` at sf0.001 549-598 (888-923 at
# local[8]). These bounds are a quarter of the smallest counts.
WRITE_PIDS_MAX = 194 // 4
DRAIN_PIDS_MAX = 549 // 4


def _file_fs_class(spark) -> str:
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    return fs.getClass().getName()


def _default_modes(spark) -> tuple[int, int]:
    """Hadoop's default file and dir modes under the configured umask."""
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    umask = perm.getUMask(spark._jsc.hadoopConfiguration())
    return (
        perm.getFileDefault().applyUMask(umask).toShort(),
        perm.getDirDefault().applyUMask(umask).toShort(),
    )


def _modes(root: str) -> tuple[dict[str, int], dict[str, int]]:
    files, dirs = {}, {root: os.stat(root).st_mode & 0o7777}
    for parent, ds, fs in os.walk(root):
        for d in ds:
            dirs[os.path.join(parent, d)] = os.stat(os.path.join(parent, d)).st_mode & 0o7777
        for f in fs:
            files[os.path.join(parent, f)] = os.stat(os.path.join(parent, f)).st_mode & 0o7777
    return files, dirs


def _last_pid() -> int:
    with open("/proc/loadavg") as fh:
        return int(fh.read().split()[-1])


def _pids_allocated(action) -> int:
    """PIDs (processes and threads) allocated in this PID namespace
    while ``action`` runs."""
    with open("/proc/sys/kernel/pid_max") as fh:
        pid_max = int(fh.read())
    before = _last_pid()
    action()
    return (_last_pid() - before) % pid_max


def _write_30_partitions(spark, out: str) -> None:
    # one task writes 30 date-like dirs: 62 files with the .crc's and _SUCCESS
    spark.range(3000).selectExpr("id", "id % 30 AS d").coalesce(1).write.partitionBy(
        "d"
    ).parquet(out)


def test_file_scheme_is_nio_local_fs(spark):
    assert _file_fs_class(spark) == session.NIO_FS_CLASS
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        session.LOCAL_FS_CONFS["spark.sql.streaming.checkpointFileManagerClass"]
    )


def test_parquet_write_keeps_default_modes(spark, tmp_path):
    # the modes pinned are the ones the nio FS sets, not the stock FS's
    assert _file_fs_class(spark) == session.NIO_FS_CLASS
    out = str(tmp_path / "out")
    _write_30_partitions(spark, out)
    files, dirs = _modes(out)
    file_mode, dir_mode = _default_modes(spark)
    assert len(files) == 62 and len(dirs) == 31
    assert set(files.values()) == {file_mode}, files
    assert set(dirs.values()) == {dir_mode}, dirs


def test_drain_checkpoint_keeps_default_modes(spark, sf_dir, tmp_path):
    """An availableNow drain with a stateful operator writes offsets,
    commits, metadata and state-store files, all through the FS."""
    assert _file_fs_class(spark) == session.NIO_FS_CLASS
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream_table(spark, sf_dir, "events")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("memory")
        .queryName("local_fs_modes")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        spark.catalog.dropTempView("local_fs_modes")
    files, dirs = _modes(ckpt)
    file_mode, dir_mode = _default_modes(spark)
    names = {os.path.relpath(p, ckpt).split(os.sep)[0] for p in files}
    assert {"offsets", "commits", "metadata", "state"} <= names, names
    assert set(files.values()) == {file_mode}, files
    assert set(dirs.values()) == {dir_mode}, dirs


def test_write_and_drain_start_no_process_per_file(spark, sf_dir, tmp_path):
    drain = all_specs()["stream_dedup_within_watermark"].fn
    _write_30_partitions(spark, str(tmp_path / "warm"))
    drain(spark, sf_dir).collect()
    write = _pids_allocated(lambda: _write_30_partitions(spark, str(tmp_path / "out")))
    assert write < WRITE_PIDS_MAX, write
    drained = _pids_allocated(lambda: drain(spark, sf_dir).collect())
    assert drained < DRAIN_PIDS_MAX, drained


def test_jar_build_without_javac_names_javac_and_jar(tmp_path, monkeypatch):
    empty = tmp_path / "bin"
    empty.mkdir()
    monkeypatch.setenv("PATH", str(empty))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    with pytest.raises(RuntimeError) as err:
        session.local_fs_jar()
    msg = str(err.value)
    assert "javac" in msg and session.NIO_FS_CLASS in msg, msg
    assert str(tmp_path / "cache" / "bdnds") in msg, msg


def test_jar_is_built_once_per_cache(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    jar = session.local_fs_jar()
    assert os.path.dirname(jar) == str(tmp_path / "bdnds")
    built = os.stat(jar).st_mtime_ns
    assert session.local_fs_jar() == jar and os.stat(jar).st_mtime_ns == built
    assert os.listdir(tmp_path / "bdnds") == [os.path.basename(jar)]
    with zipfile.ZipFile(jar) as zf:
        assert sorted(zf.namelist()) == [
            "bdnds/NioLocalFileSystem.class",
            "bdnds/NioRawLocalFileSystem.class",
        ]


def test_jvm_launched_without_the_jar_keeps_the_stock_fs(tmp_path):
    """A JVM started by a plain builder cannot load the jar, so the
    factory must not name its class; the session still writes."""
    out = str(tmp_path / "out")
    script = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        SparkSession.builder.master("local[1]").getOrCreate().stop()
        from bigdatanycdiseasesurveillance_spark.session import get_spark
        spark = get_spark("bdnds-stock-fs", "local[1]")
        spark.range(5).write.parquet({out!r})
        assert spark.read.parquet({out!r}).count() == 5
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
        print("FS", fs.getClass().getName())
        spark.stop()
        """
    )
    env = dict(os.environ, PYTHONPATH=REPO_DIR, SPARK_GRAFT_DRIVER_MEM="512m")
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    fs = [line for line in done.stdout.splitlines() if line.startswith("FS ")]
    assert fs and fs[0] != f"FS {session.NIO_FS_CLASS}", done.stdout
