"""Batch sinks (SURVEY §2.1 S10/S13).

The reference's sinks are driver-side loops: timestamped JSON batch
files (deduplication_consumer.py:328-360) and per-row database writes
(psql_db_client.py:369-417). Engine form: every sink is a distributed
`df.write` — date-partitioned parquet, and versioned gold tables with
compaction and retention — no collect().
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str] | None = None, mode: str = "append"
) -> None:
    """S10/S13: batch parquet sink. Date-partitioning is what stands in
    for the reference's hypertable time-partitioning — date filters then
    prune whole directories (SURVEY §4 partition pruning)."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def _remove_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def compact_table(
    spark: SparkSession, path: str, target_files: int | None = None
) -> int:
    """Operational sink maintenance: rewrite a parquet table into
    `target_files` files (default: one per ~128 MB). Streaming/upsert
    sinks accrete small files; at cluster scale small files dominate
    task-scheduling and NameNode/listing overhead, so compaction runs on
    a schedule. Returns the file count after rewrite."""
    df = spark.read.parquet(path)
    if target_files is None:
        total_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
        target_files = max(1, total_bytes // (128 * 1024 * 1024))
    tmp = path.rstrip("/") + ".__compacting"
    df.coalesce(int(target_files)).write.mode("overwrite").parquet(tmp)
    out = spark.read.parquet(tmp)
    out.write.mode("overwrite").parquet(path)
    _remove_dir(tmp)
    n = len(
        [
            f
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
    )
    return n


def write_gold_version(df: DataFrame, base_dir: str) -> int:
    """W5/S13: versioned gold-table write — each refresh lands in
    version=N+1 (the engine's replacement for the reference's
    pick-latest-file-by-mtime, app.py:206-210: monotonically numbered
    directories instead of filesystem timestamps). Returns the version
    written."""
    version = latest_gold_version(base_dir) + 1
    df.write.mode("overwrite").parquet(os.path.join(base_dir, f"version={version}"))
    return version


def latest_gold_version(base_dir: str) -> int:
    """Highest COMMITTED version under base_dir (0 when none). A version
    counts only if Spark's _SUCCESS marker is present — a crash mid-write
    leaves a partial version=N directory that must never be read as
    latest."""
    if not os.path.isdir(base_dir):
        return 0
    versions = [
        int(d.split("=", 1)[1])
        for d in os.listdir(base_dir)
        if d.startswith("version=")
        and d.split("=", 1)[1].isdigit()
        and os.path.exists(os.path.join(base_dir, d, "_SUCCESS"))
    ]
    return max(versions, default=0)


def read_latest_gold(spark: SparkSession, base_dir: str) -> DataFrame:
    """Read the newest gold version (W5's latest-row-per-group applied
    to table versions)."""
    v = latest_gold_version(base_dir)
    if v == 0:
        raise FileNotFoundError(f"no gold versions under {base_dir}")
    return spark.read.parquet(os.path.join(base_dir, f"version={v}"))


_SCRATCH_LOCKS: dict[str, tuple[int, int]] = {}  # dir -> (owner pid, held flock fd)


def scratch_dir(sf_dir: str, kind: str) -> str:
    """The scratch directory a query writes its intermediate tables,
    gold versions or checkpoints under: one `bdnds_{kind}_{tag}` dir
    per (kind, dataset), reused by every call and every process, so
    repeated runs leave the same names behind instead of a new dir per
    call. The dir is removed here (the caller's first write recreates
    it), so each call starts clean and reruns are deterministic; a
    frame the previous call of the same kind returned over it is gone.

    Cross-process safety: the dir is guarded by a non-blocking flock
    held for the process lifetime, so a run cannot remove another run's
    mid-run files. If another process holds the lock, or the lock file
    cannot be opened, the call falls back to a pid-suffixed dir that is
    removed at exit."""
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"bdnds_{kind}_{tag}")
    # the pid check matters under fork: a forked child inherits
    # _SCRATCH_LOCKS but must NOT treat the parent's lock as its own
    if _SCRATCH_LOCKS.get(d, (None,))[0] != os.getpid():
        fd = None
        try:
            # os.open inside the try: another user's 0600 lock file must
            # fall back too (EACCES), not crash the query
            fd = os.open(d + ".lock", os.O_CREAT | os.O_RDWR, 0o600)
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            _SCRATCH_LOCKS[d] = (os.getpid(), fd)  # held until process exit
        except OSError:
            if fd is not None:
                os.close(fd)
            d = f"{d}_{os.getpid()}"
            atexit.register(shutil.rmtree, d, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    return d


def vacuum_gold_versions(
    base_dir: str, keep: int = 2, partial_grace_sec: float = 3600.0
) -> tuple[int, int]:
    """Retention for the versioned gold sink: delete all but the newest
    `keep` COMMITTED versions, plus stale uncommitted partials (a
    crashed writer's leftovers). Returns (n_deleted, n_kept). The
    versioned layout makes time travel possible but accretes a
    directory per refresh — this is the scheduled cleanup that bounds
    it, the engine's analog of DELETE+VACUUM on a table format.

    Two safety rails (a vacuum must never destroy live data):
    - ``keep`` is clamped to >= 1 — keep=0 would delete every committed
      version including the one readers are on;
    - a partial (no _SUCCESS) is deleted only when its newest mtime is
      older than ``partial_grace_sec`` — an in-flight concurrent writer
      is indistinguishable from a crashed one by marker alone, so age is
      the tiebreaker (same rule Delta/Iceberg vacuums use for orphans).
      ``partial_grace_sec`` must exceed the longest expected write
      duration: a writer legitimately slower than the grace window looks
      crashed and is vacuumed mid-write. As a last line against the
      scan-to-delete race, _SUCCESS is re-checked immediately before
      each stale partial's removal — a commit that landed after the
      scan rescues its version.
    """
    if not os.path.isdir(base_dir):
        return (0, 0)
    keep = max(1, int(keep))
    now = time.time()
    committed = []
    stale_partial = []
    for d in os.listdir(base_dir):
        if not d.startswith("version="):
            continue
        tail = d.split("=", 1)[1]
        if not tail.isdigit():
            continue
        path = os.path.join(base_dir, d)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            committed.append(int(tail))
        else:
            try:
                newest = max(
                    (os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)),
                    default=os.path.getmtime(path),
                )
            except OSError:  # raced with its writer — definitely in flight
                continue
            if now - newest > partial_grace_sec:
                stale_partial.append(int(tail))
    committed.sort()
    doomed = committed[:-keep]
    n_deleted = 0
    for v in doomed:
        _remove_dir(os.path.join(base_dir, f"version={v}"))
        n_deleted += 1
    for v in stale_partial:
        path = os.path.join(base_dir, f"version={v}")
        # TOCTOU re-check: a slow writer may have committed between the
        # scan and this delete — a fresh _SUCCESS rescues the version
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            continue
        _remove_dir(path)
        n_deleted += 1
    return (n_deleted, len(committed) - len(doomed))
