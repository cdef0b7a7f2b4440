"""Registry-wide physical-plan invariant sweep: this sweeps ALL
registry queries so a plan regression (a Spark version bump or an
innocent refactor injecting a cartesian / unvetted nested-loop /
row-Python node) fails CI, not the cluster.
tools/plan_sweep.py is the CLI that writes the PLAN_SWEEP.json
artifact; tests/test_plan_sweep.py runs the same loop inside pytest."""

from __future__ import annotations

import json
import os

from .inspect import plan_invariants

# Every BroadcastNestedLoopJoin the registry is ALLOWED to contain —
# a BNLJ is fine iff one side is O(KB) by construction. Each entry was
# vetted by reading its build subtree (categories below), and the
# sweep flags STALE entries too, so the list shrinks with the code
# instead of rotting.
BNLJ_ALLOWLIST = {
    # 1-row scalar-stats crossJoins (HashAggregate keys=[] build side):
    "cur_dedup_aware_mixing",  # sources frame x 1-row total/extra
    "cur_mix_temperature_allocation",  # three tau runs, 1-row totals
    "dq_allocation_drift",  # two allocation runs, 1-row totals
    "samp_poisson_pps",  # corpus x 1-row grand-total T
    "samp_stratified_neyman_compare",  # two allocation runs, 1-row totals
    "txt_vocab_growth_profile",  # lang dim x 10-row decile spine
    "cur_importance_resampling",  # 64-bucket stats x 1-row totals
    "cur_quality_classifier",
    "dq_group_split_leakfree",
    "feat_quantile_binning",
    "graph_triangle_count",
    "mix_temperature_sampling",
    "pack_greedy_ffd_profile",
    "risk_composite",
    "samp_neyman_allocation",  # sources-sized strata x 1-row total/extra
    "sql_dashboard_severity",
    "tpch_q11_important_stock",
    "tpch_q22_dormant_balance",
    "win_gap_fill_spine",
    "dedup_blocking_quality",
    "dedup_incremental_new_vs_old",
    # bounded-key aggregate build sides (digits 1-9, event-type enum,
    # query-term df counts — cardinality fixed by construction):
    "dq_benford_digits",
    "dq_psi_drift",
    "market_basket_lift",
    "search_bm25_topk",
    "search_rerank_2stage",
    "search_rm3_expansion",
    "txt_bigram_pmi",
    "txt_tfidf_top_terms",
    "txt_unigram_logprob",
    # KB-sized literal dims (LocalTableScan build side): value bands,
    # subreddit->neighborhood dim, bbox rectangles (the geo pipelines'
    # bbox BNLJ became a least/when expression and left the list;
    # cluster_geo_cellgrid left too when the cell cascade — and with it
    # the 1-row stats crossJoins — moved driver-side into
    # cellgrid_assign):
    "join_quantity_bands",
    "loc_fallback_resolution",
    # single filtered row (the query vector vec_id=0):
    "emb_quantize_recall",
    # distinct-signature mask tables, pre-blocked band candidates — the
    # bounded pair-generation shapes, each re-read and justified:
    "dedup_minhash_lsh",
    "dedup_minhash_md5",
    "dedup_prefix_jaccard",
    "dedup_simhash",
}


# Every unpartitioned window node (WindowExec with an empty partition
# spec — `No Partition Defined`, the whole input through ONE task) the
# registry is ALLOWED to contain. A global
# window is fine iff its INPUT frame is corpus-size independent; each
# entry below names that bound. Counts are additionally pinned per
# query in the budget file, so an injected global window in an
# allowlisted entry still trips the sweep.
GLOBAL_WINDOW_ALLOWLIST = {
    # bucketed-rank device internals: the offsets prefix-sum window
    # runs over the BUCKET-count frame (groupBy output over a coarse
    # range key), never the input rows:
    "cur_perplexity_buckets": "4 windows over NLL-band bucket frames",
    "dedup_cross_source_snm": "2 windows over 2-char-prefix bucket frames",
    "win_global_rank_ranged": "offsets window over the day-bucket count frame",
    # dim / spine / stats frames bounded by construction:
    "join_salted_skew": "row_number over the 5-row distinct event_type dim",
    "mix_temperature_sampling": "weight normalization over the sources-sized count frame",
    "samp_neyman_allocation": "largest-remainder rank over the sources-sized strata frame",
    "cur_dedup_aware_mixing": "largest-remainder rank over the sources-sized mass frame",
    "dq_allocation_drift": "two largest-remainder ranks over sources-sized mass frames",
    "cur_mix_temperature_allocation": "three largest-remainder ranks over sources-sized weight frames",
    "samp_stratified_neyman_compare": "two largest-remainder ranks over sources-sized strata frames",
    "skyline_user_activity": "running max over the distinct-n_events group frame",
    "win_cumulative_distinct": "running sum over the day spine (time-range bounded)",
    "win_rolling_corr": "4 rolling 7-row frames over the day-grain daily spine",
}


_BUDGET_PATH = os.path.join(os.path.dirname(__file__), "shuffle_budget.json")


def load_shuffle_budget() -> dict:
    """The pinned per-query Exchange budget and global-window budget.

    {"sf_dir": <dir it was pinned at>, "budget": {name: max_exchanges},
    "window_budget": {name: n_global_windows}}.
    Shuffle counts are plan facts, but AQE's broadcast decisions read
    file-size stats, so the pin is only comparable at the sf it was
    taken at — the sweep enforces it when sf_dir matches and records
    (but does not judge) the counts otherwise. Regenerate with
    `python tools/plan_sweep.py --rebaseline` AFTER reviewing each
    diff: the point is that a shuffle-count change is a reviewed event,
    never a silent one."""
    with open(_BUDGET_PATH) as fh:
        return json.load(fh)


def sweep_specs(spark, sf_dir: str, specs: dict):
    """(results, violations, stale_allowlist) over the given specs.

    Streaming specs are SKIPPED with an explicit marker, not silently
    passed: their registry fn drains the stream and returns a
    memory-sink table, so the inspectable batch plan is a trivial
    LocalTableScan — sweeping it would execute the whole pipeline
    (including the two-pass restart-recovery run) to check nothing.
    Their Python/UDF hygiene is covered by the
    repo-wide anti-pattern greps and the streaming pytest pins; their
    micro-batch plans are not batch-inspectable from here."""
    results: dict[str, dict] = {}
    violations: list[str] = []
    try:
        pinned = load_shuffle_budget()
    except OSError:
        pinned = None  # no pin yet — counts recorded, not judged
    except ValueError as exc:  # corrupt/truncated JSON:
        # surface as a violation and keep sweeping — a broken pin file
        # must not silently disable (or abort) budget enforcement
        pinned = None
        violations.append(f"plan budget file unreadable: {exc}")
    budget = (
        pinned["budget"]
        if pinned is not None and pinned.get("sf_dir") == sf_dir
        else None
    )
    wbudget = (
        pinned.get("window_budget")
        if pinned is not None and pinned.get("sf_dir") == sf_dir
        else None
    )
    for name, spec in sorted(specs.items()):
        if "streaming" in spec.tags:
            results[name] = {"skipped": "streaming drain: batch plan is the memory sink"}
            continue
        try:
            inv = plan_invariants(spec.fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — a broken build is a violation
            results[name] = {"error": str(exc)[:200]}
            violations.append(f"{name}: build failed: {exc}")
            continue
        results[name] = inv
        if inv["cartesian"]:
            violations.append(f"{name}: {inv['cartesian']} CartesianProduct node(s)")
        if inv["bnlj"] and name not in BNLJ_ALLOWLIST:
            violations.append(
                f"{name}: {inv['bnlj']} BroadcastNestedLoopJoin node(s) "
                f"not on the vetted allowlist"
            )
        if inv["py_row_udf"]:
            violations.append(
                f"{name}: {inv['py_row_udf']} row-at-a-time BatchEvalPython node(s)"
            )
        if inv["global_window"] and name not in GLOBAL_WINDOW_ALLOWLIST:
            violations.append(
                f"{name}: {inv['global_window']} unpartitioned window "
                f"node(s) (No Partition Defined) not on the vetted allowlist"
            )
        if wbudget is not None:
            wpin = wbudget.get(name)
            if wpin is None:
                violations.append(
                    f"{name}: no pinned global-window budget — rebaseline "
                    f"(tools/plan_sweep.py --rebaseline) after reviewing its plan"
                )
            elif inv["global_window"] != wpin:
                drift = "grew" if inv["global_window"] > wpin else "dropped"
                violations.append(
                    f"{name}: {inv['global_window']} unpartitioned window "
                    f"node(s) {drift} from the pinned global-window budget "
                    f"of {wpin} — review the plan, then rebaseline if "
                    f"intentional"
                )
        if budget is not None:
            if name not in budget:
                violations.append(
                    f"{name}: no pinned shuffle budget — rebaseline "
                    f"(tools/plan_sweep.py --rebaseline) after reviewing its plan"
                )
            elif inv["exchanges"] > budget[name]:
                violations.append(
                    f"{name}: {inv['exchanges']} Exchange node(s) exceeds the "
                    f"pinned budget of {budget[name]} — a shuffle was added; "
                    f"review the plan, then rebaseline if intentional"
                )
            elif inv["exchanges"] < budget[name]:
                violations.append(
                    f"{name}: {inv['exchanges']} Exchange node(s) is BELOW the "
                    f"pinned budget of {budget[name]} — the plan improved; "
                    f"rebaseline so the gain is locked in"
                )
    # only swept-clean entries count as stale — an errored or skipped
    # row must not suggest deleting a still-valid vetted entry
    stale = sorted(
        n for n in BNLJ_ALLOWLIST if n in results and results[n].get("bnlj") == 0
    )
    stale += sorted(
        f"global-window:{n}"
        for n in GLOBAL_WINDOW_ALLOWLIST
        if n in results and results[n].get("global_window") == 0
    )
    if budget is not None:
        # budget rows for queries that no longer exist (or went
        # streaming) must be pruned at the next rebaseline
        stale += sorted(
            f"shuffle-budget:{n}"
            for n in budget
            if n not in results or "skipped" in results[n]
        )
    return results, violations, stale
