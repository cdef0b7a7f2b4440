#!/usr/bin/env python3
"""Profile one registry query with the Spark UI off: plan-build time vs
execution time, and the Spark jobs each one ran, read from the Spark
event log (guide §1.1 "empirical" — where does the time actually go).
Usage:

    python tools/profile_query.py <query> [reps] [sf_dir]

The session writes an uncompressed event log to a temp dir. Each rep
runs under two job groups: build (the spec.fn call = driver-side plan
construction, including any control-plane collects the query performs
while building) and exec (noop sink). After the last rep,
perfbench/tracing.fold_event_log folds the log into per-group totals.
Prints one row per rep and phase: wall seconds, jobs, seconds covered
by jobs, executor run and CPU ms, shuffle write, input and spill bytes,
task count and the longest task.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)
sys.path.insert(0, os.path.join(REPO_DIR, "perfbench"))

import tracing  # noqa: E402  (perfbench/tracing.py)


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )

    from bigdatanycdiseasesurveillance_spark.registry import all_specs
    from bigdatanycdiseasesurveillance_spark.session import get_spark

    log_dir = tempfile.mkdtemp(prefix="profile_query_")
    try:
        # the event log is read by the SparkContext at start: start one,
        # set the log properties, and start a new context in the same JVM
        spark = get_spark("bdnds-profile")
        tracing.set_event_log(spark, log_dir)
        spark.stop()
        spark = get_spark("bdnds-profile")
        spark.sparkContext.setLogLevel("ERROR")
        spans = run_reps(spark, all_specs()[name], sf_dir, reps)
        spark.stop()  # closes the event log
        report(spans, log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def run_reps(spark, spec, sf_dir: str, reps: int) -> list[tuple]:
    """Warm up, then run `reps` build + exec pairs, each phase under a
    job group of its own; returns (rep, phase, group, t0, t1) spans."""
    sc = spark.sparkContext
    # Warm-up: JVM/codegen + python worker pool
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(sc.defaultParallelism).repartition(sc.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    spans = []  # (rep, phase, group, t0, t1)

    def run(rep: int, phase: str, fn):
        group = f"profile-{rep}-{phase}"
        sc.setJobGroup(group, f"{spec.name}/{phase}")
        t0 = time.time()
        try:
            return fn()
        finally:
            spans.append((rep, phase, group, t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    for rep in range(reps):
        df = run(rep, "build", lambda: spec.fn(spark, sf_dir))
        run(rep, "exec", lambda: df.write.format("noop").mode("overwrite").save())
    return spans


def report(spans: list[tuple], log_dir: str) -> None:
    groups = tracing.fold_event_log(log_dir)
    print(
        f"{'rep':>3} {'phase':5} {'wall_s':>7} {'jobs':>4} {'job_s':>6} "
        f"{'run_ms':>8} {'cpu_ms':>8} {'shuf_w_B':>10} {'input_B':>10} "
        f"{'spill_B':>8} {'tasks':>5} {'max_task_ms':>11}"
    )
    for rep, phase, group, t0, t1 in spans:
        g = groups.get(group, tracing.GroupTotals())
        print(
            f"{rep:>3} {phase:5} {t1 - t0:7.3f} {g.jobs:4d} "
            f"{tracing.covered(g.intervals, t0, t1):6.3f} {g.run_ms:8.0f} "
            f"{g.cpu_ms:8.0f} {g.shuffle_write_bytes:10d} {g.input_bytes:10d} "
            f"{g.spill_bytes:8d} {len(g.task_ms):5d} {max(g.task_ms, default=0):11.0f}"
        )


if __name__ == "__main__":
    main()
