"""Plan-build round-trip budgets: the Python-side counterpart of
PIPELINE_MAX_JOBS.

Every PySpark Column call is several Py4J round trips from Python to
the JVM, so the benchmarked plans are built as SQL text
(functions.sql_text). Each budget below is the number of Py4J commands
the calling thread sends while the named step runs, as measured when the
plans moved to SQL text; a Column-chain rebuild of any of them costs
hundreds more and fails here. A budget may only tighten.

The Py4J finalizer thread's object-release commands are not counted:
when they run depends on Python's garbage collector, not on the plan.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

import py4j.clientserver

from bigdatanycdiseasesurveillance_spark.operators.dedup import minhash_lsh_pairs
from bigdatanycdiseasesurveillance_spark.operators.relevance import extract_relevance
from bigdatanycdiseasesurveillance_spark.registry import all_specs
from bigdatanycdiseasesurveillance_spark.tables import table

from .test_pipeline import POSTS, _run

# measured at sf0.001 on the end-to-end test corpus; the Column-chain
# builds these replaced cost 1,521 / 443 / 492 / 2,433 / 811
RUN_PIPELINE_MAX = 127  # incl. its 7 jobs and the observation reads
MINHASH_LSH_PAIRS_MAX = 7
EXTRACT_RELEVANCE_MAX = 7
CELLGRID_FN_MAX = 86  # incl. the bounded cell collect
DUPLICATE_GROUPS_FN_MAX = 103  # incl. connected_components' pair collect


@contextmanager
def round_trips():
    """Count the Py4J commands this thread sends inside the block."""
    conn = py4j.clientserver.ClientServerConnection
    send, me, box = conn.send_command, threading.get_ident(), [0]

    def counting(self, command):
        if threading.get_ident() == me:
            box[0] += 1
        return send(self, command)

    conn.send_command = counting
    try:
        yield box
    finally:
        conn.send_command = send


def _warm_count(fn) -> int:
    """Round trips of the second call: the first one pays one-off
    lookups (JVM classes, session state) that a warm session has done."""
    fn()
    with round_trips() as n:
        fn()
    return n[0]


def test_run_pipeline_round_trips(spark, tmp_path_factory):
    n = _warm_count(lambda: _run(spark, tmp_path_factory.mktemp("run"), POSTS))
    assert n <= RUN_PIPELINE_MAX, n


def test_minhash_lsh_pairs_round_trips(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    n = _warm_count(lambda: minhash_lsh_pairs(docs))
    assert n <= MINHASH_LSH_PAIRS_MAX, n


def test_extract_relevance_round_trips(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    n = _warm_count(lambda: extract_relevance(docs))
    assert n <= EXTRACT_RELEVANCE_MAX, n


def test_registry_fn_round_trips(spark, sf_dir):
    specs = all_specs()
    for name, budget in [
        ("cluster_geo_pipeline_cellgrid", CELLGRID_FN_MAX),
        ("dedup_duplicate_groups", DUPLICATE_GROUPS_FN_MAX),
    ]:
        n = _warm_count(lambda: specs[name].fn(spark, sf_dir))
        assert n <= budget, (name, n)
