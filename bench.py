#!/usr/bin/env python3
"""Benchmark harness: runs the headline (bench=True) registry queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced end-to-end with the noop sink (full physical
execution, no driver-side collect overhead): one cold run, then the
min of 3 warm runs. One warm-up of the first query amortizes JVM/codegen
startup out of the per-query numbers. The paper's chain end to end is
timed by perfbench/, not here.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_DIR)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from bigdatanycdiseasesurveillance_spark.registry import all_specs
    from bigdatanycdiseasesurveillance_spark.session import get_spark

    spark = get_spark("bdnds-bench")
    spark.sparkContext.setLogLevel("ERROR")

    specs = {n: s for n, s in all_specs().items() if s.bench}

    def run(spec) -> float:
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Warm-up: the first spec in the timed loop's (sorted) order, so the
    # JVM/codegen cold cost is not charged to whichever query runs first.
    try:
        run(specs[sorted(specs)[0]])
    except Exception:
        pass
    # Also spin up the Python worker pool (one per core): otherwise the
    # first mapInPandas query's cold time is dominated by worker forks,
    # which is session setup, not query cost.
    try:
        spark.range(spark.sparkContext.defaultParallelism).repartition(
            spark.sparkContext.defaultParallelism
        ).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass

    # Per-query error isolation: one broken query must never zero out
    # the whole benchmark.
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, spec in sorted(specs.items()):
        try:
            timings[name] = round(run(spec), 4)
            warm[name] = round(min(run(spec) for _ in range(3)), 4)
        except Exception as exc:  # noqa: BLE001 — record and keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"bench: {name} ERROR {errors[name]}", file=sys.stderr)

    # Per-query maps go to a side file; the stdout line stays compact so
    # a capture buffer never truncates it (`queries` is the cold map).
    detail = {
        "queries_cold": timings,
        "queries_warm": warm,
        "errors": errors,
        "sf": sf,
        "n_queries": len(timings),
    }
    with open(os.path.join(REPO_DIR, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)

    print(
        json.dumps(
            {
                "metric": "bench_total_wall",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "total_warm": round(sum(warm.values()), 4),
                "n_errors": len(errors),
                # full text in BENCH_DETAIL.json
                "errors": {n: e[:120] for n, e in errors.items()},
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
