#!/usr/bin/env python3
"""Dump `.explain("formatted")` for named queries into plans/LABEL/.

Usage: python tools/dump_plans.py LABEL SUFFIX name1 name2 ...
       (SUFFIX is `before` or `after`; writes plans/LABEL/<name>_<SUFFIX>.txt)

Plans are captured at sf0.001 (plan shapes are scale-invariant; the
round deliverable is the shape diff, not row counts).
"""

from __future__ import annotations

import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")


def main() -> None:
    label = sys.argv[1] if len(sys.argv) > 1 else ""
    suffix = sys.argv[2] if len(sys.argv) > 2 else ""
    names = sys.argv[3:]
    if not label or suffix not in ("before", "after") or not names:
        sys.exit(__doc__)
    out_dir = os.environ.get(
        "SPARK_GRAFT_PLAN_OUT", os.path.join(REPO_DIR, "plans", label)
    )
    os.makedirs(out_dir, exist_ok=True)

    from bigdatanycdiseasesurveillance_spark.registry import all_specs
    from bigdatanycdiseasesurveillance_spark.session import get_spark

    spark = get_spark(f"bdnds-plans-{label}")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    for name in names:
        df = specs[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


main()
