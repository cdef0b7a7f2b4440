"""Simulate the driver's correctness gate: run every queries() entry and
compare to oracle_sql() in DuckDB.

Usage, from a directory outside the repo:
    python <repo>/tools/gate_sim.py [sf_dir] [name...]

Query names after sf_dir restrict the run to those queries.
SPARK_GRAFT_CPUS sets local[N] (default 8).

MUST run from OUTSIDE the repo (e.g. /tmp): the driver's executors do
not have the repo on sys.path, so pandas-UDF closure-pickling bugs only
reproduce in that configuration. The script refuses to run from the
repo root for that reason.
"""
import os
import sys

sys.path.insert(0, "/root/repo")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duckdb
from pyspark.sql import SparkSession

from gate_sim_lib import norm_rows

from bigdatanycdiseasesurveillance_spark.tables import TABLE_NAMES

if os.path.realpath(os.getcwd()) == os.path.realpath("/root/repo"):
    sys.exit("run from /tmp (or any non-repo cwd), not the repo root")

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# optional: further argv entries restrict the sweep to those query names
ONLY = set(sys.argv[2:])


def main():
    # Defaults mirror the driver's t2 gate (local[8], default memory).
    # sf1 scale-audit sweeps need more: SPARK_GRAFT_CPUS=32
    # SPARK_GRAFT_DRIVER_MEM=16g python tools/gate_sim.py .data/sf1
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", cpus)
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    import __spark_entry__ as E

    import time as _time

    qs, oracles = E.queries(), E.oracle_sql()
    if ONLY:
        unknown = ONLY - set(qs)
        if unknown:
            sys.exit(f"unknown query names: {sorted(unknown)}")
        qs = {n: f for n, f in qs.items() if n in ONLY}
    fails = []
    for name, fn in qs.items():
        try:
            _t0 = _time.perf_counter()
            df = fn(spark, SF)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
            t_spark = _time.perf_counter() - _t0
        except Exception as e:
            fails.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {e}", flush=True)
            continue
        try:
            _t0 = _time.perf_counter()
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            t_oracle = _time.perf_counter() - _t0
        except Exception as e:
            fails.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL {name}: oracle error {e}", flush=True)
            continue
        if sorted(scols) != sorted(ocols):
            fails.append((name, f"schema {sorted(scols)} vs {sorted(ocols)}"))
            print(f"FAIL {name}: schema mismatch")
            continue
        sn, on = norm_rows(scols, srows), norm_rows(ocols, orows)
        if sn != on:
            diff = next((i for i in range(min(len(sn), len(on))) if sn[i] != on[i]), None)
            msg = f"rows {len(sn)} vs {len(on)}"
            if diff is not None:
                msg += f"; first diff @{diff}: {sn[diff]} vs {on[diff]}"
            fails.append((name, msg))
            print(f"FAIL {name}: {msg}", flush=True)
        else:
            print(
                f"OK {name}: {len(sn)} rows"
                f" [spark {t_spark:.1f}s oracle {t_oracle:.1f}s]",
                flush=True,
            )
    print(f"\n{len(qs) - len(fails)}/{len(qs)} pass")
    sys.exit(1 if fails else 0)


main()
