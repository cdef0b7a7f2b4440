#!/usr/bin/env python3
"""Registry-wide physical-plan tripwire CLI.

Builds EVERY registry query at sf0.001 (plan shapes are scale-
invariant), checks the global invariants — zero CartesianProduct,
BroadcastNestedLoopJoin only on the vetted allowlist, zero row-at-a-
time BatchEvalPython — and writes PLAN_SWEEP.json. The invariant logic
and allowlist live in bigdatanycdiseasesurveillance_spark/plans/sweep.py
(shared with tests/test_plan_sweep.py, which runs the same loop in CI).

Usage: cd /tmp && python /root/repo/tools/plan_sweep.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--rebaseline"]
    rebaseline = "--rebaseline" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    from bigdatanycdiseasesurveillance_spark.plans import sweep as sweep_mod
    from bigdatanycdiseasesurveillance_spark.plans.sweep import sweep_specs
    from bigdatanycdiseasesurveillance_spark.registry import all_specs
    from bigdatanycdiseasesurveillance_spark.session import get_spark

    spark = get_spark("plan-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    results, violations, stale = sweep_specs(spark, sf_dir, all_specs())
    if rebaseline:
        # pin the CURRENT per-query Exchange and global-window counts as
        # the budget; every later run fails on any drift (up OR down)
        # until re-reviewed
        budget = {
            n: r["exchanges"]
            for n, r in sorted(results.items())
            if "exchanges" in r
        }
        window_budget = {
            n: r["global_window"]
            for n, r in sorted(results.items())
            if "global_window" in r
        }
        with open(sweep_mod._BUDGET_PATH, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "budget": budget, "window_budget": window_budget},
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
        print(
            f"pinned shuffle + global-window budget for {len(budget)} plans "
            f"-> {sweep_mod._BUDGET_PATH}"
        )
        # the fresh pin equals the measured counts, so budget-drift
        # findings from the pre-pin sweep are resolved by construction
        # (a second full sweep would re-execute every control-plane
        # build job just to prove that)
        violations = [v for v in violations if "budget" not in v]
        stale = [s for s in stale if not s.startswith("shuffle-budget:")]
    with open(os.path.join(REPO_DIR, "PLAN_SWEEP.json"), "w") as fh:
        json.dump(
            {"results": results, "violations": violations, "stale_allowlist": stale},
            fh,
            indent=1,
            sort_keys=True,
        )
    n_bnlj = sum(1 for r in results.values() if r.get("bnlj"))
    print(
        f"swept {len(results)} plans: {len(violations)} violations, "
        f"{n_bnlj} allowlisted BNLJ plans, stale allowlist: {stale}"
    )
    for v in violations:
        print("VIOLATION", v)
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
