#!/usr/bin/env python3
"""Generate driver-shaped synthetic testdata at an arbitrary scale factor.

The driver ships read-only parquet at sf in {0.001, 0.01, 0.1}
(TESTDATA.md). For any other sf this generator reproduces the SAME
schema and value distributions (measured from the sf0.1 tables:
vocabulary, ranges, category sets, key relationships), under the repo
by default (.data/sf{sf}, gitignored).

NOTE this is NOT the driver's generator: correctness sweeps compare the
Spark engine against the DuckDB oracle ON THE SAME FILES, so exact
byte-parity with driver data is irrelevant — what matters is identical
schema (incl. parquet physical types: timestamp[us] like the round-2+
driver data) and the same distribution SHAPE (tiny dense vocabulary ->
near-dup-heavy documents, Jan-2024 monotonic event stream, unit-norm
64-dim embeddings, TPC-H-ish star schema).

Usage: python tools/gen_testdata.py SF [OUTDIR]   (e.g. SF = 0.05)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the sf0.1 documents vocabulary, verbatim (31 tokens)
VOCAB = sorted(
    """batch part spark line column order small sort fast value scan a hash
    slow group agg filter query big key window row table stream merge data
    vector customer the join""".split()
)
LANGS = ["en", "de", "es", "zh", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["large", "hot", "blue", "red", "small", "dark", "pale", "slow"]
NOUN = ["ring", "bolt", "disk", "cap", "gear", "fan", "rail", "plug"]


def counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
        "users": max(10, int(15_000 * sf)),
    }


def _write(outdir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))
    print(f"  {name}: {table.num_rows} rows")


def main(sf: float, outdir: str) -> None:
    rng = np.random.default_rng(42)
    n = counts(sf)
    os.makedirs(outdir, exist_ok=True)
    us = "us"

    _write(
        outdir,
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
    )
    _write(
        outdir,
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )

    nc = n["customer"]
    _write(
        outdir,
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(range(nc), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
            }
        ),
    )

    ns = n["supplier"]
    _write(
        outdir,
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(range(ns), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2),
            }
        ),
    )

    npart = n["part"]
    adj = np.array(ADJ)[rng.integers(0, len(ADJ), npart)]
    noun = np.array(NOUN)[rng.integers(0, len(NOUN), npart)]
    _write(
        outdir,
        "part",
        pa.table(
            {
                "p_partkey": pa.array(range(npart), pa.int64()),
                "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
                "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), npart)],
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
            }
        ),
    )

    no = n["orders"]
    day_us = 86_400_000_000
    odate = (
        np.datetime64("1995-01-01", us).astype("int64")
        + rng.integers(0, 2404, no) * day_us
    )
    _write(
        outdir,
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array(range(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
                "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
                "o_orderdate": pa.array(odate, pa.timestamp(us)),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
            }
        ),
    )

    nl = n["lineitem"]
    sdate = (
        np.datetime64("1995-01-01", us).astype("int64")
        + rng.integers(0, 2500, nl) * day_us
    )
    _write(
        outdir,
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": rng.integers(1, 51, nl).astype("float64"),
                "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
                "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
                "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
                "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, nl)],
                "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
                "l_shipdate": pa.array(sdate, pa.timestamp(us)),
            }
        ),
    )

    ne = n["events"]
    # monotonic stream over ~30 days: cumulative exponential gaps in us
    span = 30 * day_us
    gaps = rng.exponential(1.0, ne)
    ts = (
        np.datetime64("2024-01-01", us).astype("int64")
        + (np.cumsum(gaps) / gaps.sum() * span).astype("int64")
    )
    kvals = rng.integers(0, 100, ne)
    _write(
        outdir,
        "events",
        pa.table(
            {
                "event_id": pa.array(range(ne), pa.int64()),
                "ts": pa.array(ts, pa.timestamp(us)),
                "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
                "value": np.round(rng.uniform(0, 1, ne) ** 2 * 560, 2),
                "props": [f'{{"k": {k}}}' for k in kvals],
            }
        ),
    )

    nd = n["documents"]
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, nd)
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.002:  # sparse exact duplicates
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    _write(
        outdir,
        "documents",
        pa.table(
            {
                "doc_id": pa.array(range(nd), pa.int64()),
                "text": texts,
                "lang": rng.choice(LANGS, nd, p=LANG_P),
                "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
    )

    nv = n["embeddings"]
    vecs = rng.normal(0, 1, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        outdir,
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(range(nv), pa.int64()),
                "embedding": pa.array(
                    [v.astype("float32") for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
            }
        ),
    )


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print("usage: python tools/gen_testdata.py SF [OUTDIR]", file=sys.stderr)
        sys.exit(2)
    sf = float(sys.argv[1])
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".data",
            f"sf{sf:g}",
        )
    )
    print(f"generating sf={sf} -> {out}")
    main(sf, out)
