"""Physical-plan introspection (SURVEY §4).

The reference hand-writes its pushdown as SQL strings and never looks at
a plan; this engine's contract is the opposite — declare the logical
plan, then ASSERT the physical properties that matter at 100 TB.
`plan_invariants` counts the node families the registry-wide sweep
(plans/sweep.py) pins per query: shuffles, cartesian products,
nested-loop joins, row-at-a-time Python and unpartitioned windows.
tests/test_plans.py asserts the rest (pushdown, broadcast dims, partial
aggregation, codegen) on the headline queries, so a regression fails
CI, not the cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan after AQE initial planning, as text."""
    return df._jdf.queryExecution().executedPlan().toString()


_WINDOW_EXEC_CLASSES = ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec")


def _walk_physical(root):
    """Every node of a physical plan tree, descending through AQE
    wrappers (AdaptiveSparkPlanExec / *QueryStageExec are leaf-like —
    their real subtree hangs off executedPlan()/plan(), not
    children())."""
    stack = [root]
    while stack:
        node = stack.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def global_window_count(df: DataFrame) -> int:
    """Number of window nodes with an EMPTY partition spec — the
    `WindowExec: No Partition Defined` shape that funnels its whole
    input through ONE task: the one scale-killer class the text-grep
    invariants could not see (agg_rfm_segments' three global ntile
    sorts once passed the exchange pins). Counted by JVM tree traversal, not text parsing: the
    Window node's toString elides empty bracket groups, so partition
    emptiness is only reliable from partitionSpec() itself."""
    return sum(
        1
        for node in _walk_physical(df._jdf.queryExecution().executedPlan())
        if node.getClass().getSimpleName() in _WINDOW_EXEC_CLASSES
        and node.partitionSpec().isEmpty()
    )


def plan_invariants(df: DataFrame) -> dict[str, int]:
    """Counts of the three node families no registry plan may grow
    unvetted (global invariants once checked by hand, now mechanized):

    - cartesian:  CartesianProduct — an unbounded all-pairs blowup;
      never acceptable anywhere in the registry;
    - bnlj:       BroadcastNestedLoopJoin — acceptable ONLY for the
      vetted shapes (bbox range joins against a KB dim, 1-row broadcast
      stats crossJoins), so the sweep admits it per-query allowlist;
    - py_row_udf: BatchEvalPython — a row-at-a-time Python UDF in the
      plan (the Arrow nodes ArrowEvalPython / MapInPandas /
      FlatMapGroupsInPandas are the sanctioned Python surface).

    Counted on the AQE-initial executed plan: join strategies injected
    by a refactor or a Spark version bump show up here before runtime
    re-planning can disguise them.

    ``exchanges`` counts every SHUFFLE boundary (hash / range /
    single-partition repartitions — BroadcastExchange is deliberately
    excluded: a broadcast is the cheap alternative TO a shuffle). It is
    not itself a violation — plans legitimately differ — but the sweep
    compares it against the per-query pinned budget
    (plans/shuffle_budget.json) so a refactor or Spark bump that
    silently adds a shuffle fails CI instead of surfacing as a bench
    drift much later.

    ``global_window`` counts window nodes whose partition spec is
    empty. Like bnlj it is violation-grade
    unless the query is on the vetted allowlist (bucket-frame /
    vocab-sized window inputs, or documented oracle-parity forms), and
    like exchanges it is pinned per query so drift in either direction
    is a reviewed event."""
    plan = executed_plan(df)
    return {
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "py_row_udf": len(re.findall(r"\bBatchEvalPython\b", plan)),
        "exchanges": len(
            re.findall(
                r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
                plan,
            )
        ),
        "global_window": global_window_count(df),
    }
