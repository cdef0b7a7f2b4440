"""Physical-plan pins (SURVEY §4): the scale properties the engine
promises — pushdown, broadcast dims, partial aggregation, codegen —
asserted on the headline queries so they can't silently regress."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.plans import executed_plan
from bigdatanycdiseasesurveillance_spark.registry import all_specs

SPECS = all_specs()


def formatted_plan(df) -> str:
    """explain("formatted") output (node list + details) as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def broadcast_join_count(df) -> int:
    """Number of broadcast joins (hash or nested-loop) in the plan."""
    plan = executed_plan(df)
    return len(re.findall(r"Broadcast(HashJoin|NestedLoopJoin)", plan))


def pushed_filters(df) -> list[str]:
    """PushedFilters lists from every scan node (non-empty when
    predicates reached the parquet reader)."""
    return [
        m.group(1)
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))
        if m.group(1).strip()
    ]


def has_partial_aggregation(df) -> bool:
    """True when the plan contains a map-side partial aggregate before
    the exchange (Spark's two-phase agg — reduces shuffle volume by the
    group-key cardinality ratio)."""
    return "partial_" in executed_plan(df) or bool(
        re.search(r"HashAggregate.*keys=.*\n(.|\n)*HashAggregate", executed_plan(df))
    )


def codegen_stage_count(df) -> int:
    """Number of WholeStageCodegen spans. Fewer, wider spans = more of
    the plan runs as generated JVM loops instead of volcano iterators."""
    return len(set(re.findall(r"\*\((\d+)\)", executed_plan(df))))


def q(name, spark, sf_dir):
    return SPECS[name].fn(spark, sf_dir)


def test_tpch_q3_filters_pushed_to_scan(spark, sf_dir):
    """Date/segment predicates must reach the parquet readers, not run
    post-scan — at 100 TB this is the difference between scanning a
    partition and scanning the table."""
    df = q("tpch_q3_shipping_priority", spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("c_mktsegment" in p for p in pushed), pushed
    assert any("o_orderdate" in p for p in pushed), pushed
    assert any("l_shipdate" in p for p in pushed), pushed


def test_tpch_q5_broadcasts_small_dims(spark, sf_dir):
    """region/nation (KB-sized) must broadcast; only the fact-side joins
    may shuffle."""
    df = q("tpch_q5_regional_revenue", spark, sf_dir)
    assert broadcast_join_count(df) >= 2, executed_plan(df)


def test_location_cascade_is_all_broadcast(spark, sf_dir):
    """The J2-J7 cascade joins four tiny dims — every one must be a
    broadcast join and the fact side must not shuffle for any of them."""
    df = q("loc_fallback_resolution", spark, sf_dir)
    # 4 cascade joins + the subreddit dim-to-dim build join
    assert broadcast_join_count(df) >= 4, executed_plan(df)
    # the only exchanges allowed are those Spark plans for the dim
    # sides' broadcast preparation, never a fact-side hash partitioning
    assert "Exchange hashpartitioning" not in executed_plan(df)


def test_daily_counts_partial_aggregation(spark, sf_dir):
    """A1/A2 rollups must run map-side partial aggregation so the
    shuffle carries group partials, not raw events."""
    df = q("agg_daily_type_counts", spark, sf_dir)
    assert has_partial_aggregation(df)


def test_relevance_is_pure_codegen(spark, sf_dir):
    """U1's keyword extraction replaces a Python UDF with native column
    expressions — the plan must contain no Python evaluation nodes."""
    df = q("rel_keyword_extraction", spark, sf_dir)
    plan = executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert codegen_stage_count(df) >= 1


def test_text_suite_no_python_nodes(spark, sf_dir):
    """Token stats / quality are full-corpus scans at 100 TB — they must
    stay JVM-side end to end. (langid deliberately runs its scoring as
    Arrow-batched mapInPandas — see the next test.)"""
    for name in ("txt_token_stats", "txt_quality_score"):
        plan = executed_plan(q(name, spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_langid_scoring_is_single_scan(spark, sf_dir):
    """Language-ID scoring ships the tiny collected profiles inside a
    mapInPandas closure: the returned plan must be ONE scan + the
    Python map — no join, no key shuffle, no window (the gram explode
    and profile join were the measured cost of the all-DataFrame form).
    A round-robin rebalance IS allowed: single-row-group inputs scan as
    one split and would otherwise serialize the Python scoring onto one
    core (see tables.parallelize_scan)."""
    df = q("txt_langid_trigram", spark, sf_dir)
    plan = executed_plan(df)
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_asof_join_no_cartesian(spark, sf_dir):
    """The as-of join must plan as an equi-join + window, never a
    cartesian/broadcast-nested-loop over the fact table."""
    plan = executed_plan(q("join_asof_purchase_click", spark, sf_dir))
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["agg_top_event_types", "win_latest_per_user", "dedup_exact_hash"],
)
def test_no_python_nodes_anywhere_core(spark, sf_dir, name):
    plan = executed_plan(q(name, spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Bucketing pre-partitions both tables on the join key at WRITE
    time, so the join plans with NO exchange on either side — the
    co-located-join strategy for repeatedly-joined 100 TB fact tables.
    """
    import uuid

    from bigdatanycdiseasesurveillance_spark.tables import table as t

    # warehouse.dir is static — tables land in the session default
    # (./spark-warehouse, gitignored) and are dropped in finally
    suffix = uuid.uuid4().hex[:8]
    ev, ev2 = f"ev_b_{suffix}", f"ev2_b_{suffix}"
    events = t(spark, sf_dir, "events")
    (
        events.select("event_id", "user_id", "value")
        .write.bucketBy(8, "user_id").sortBy("user_id")
        .mode("overwrite").saveAsTable(ev)
    )
    (
        events.select("event_id", "user_id", "event_type")
        .write.bucketBy(8, "user_id").sortBy("user_id")
        .mode("overwrite").saveAsTable(ev2)
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # small test tables would broadcast; force the sort-merge path
        # the bucketing is designed for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table(ev).alias("a")
            .join(spark.table(ev2).alias("b"), "user_id")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
        )
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan, plan
        # no shuffle ANYWHERE: bucket layout satisfies the join's AND
        # the downstream groupBy's distribution requirement
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {ev}")
        spark.sql(f"DROP TABLE IF EXISTS {ev2}")


def test_projection_prunes_scan_columns(spark, sf_dir):
    """Column pruning pin: a 2-column projection over the 11-column
    lineitem must scan ONLY those columns (ReadSchema) — a scan that
    reads all columns for a narrow projection is wrong at any scale."""
    df = q("tpch_q6_forecast_revenue", spark, sf_dir)
    fp = formatted_plan(df)
    rs = [l for l in fp.splitlines() if "ReadSchema" in l]
    assert rs, fp
    schema_line = rs[0]
    # q6 needs exactly shipdate (filter), quantity (filter),
    # extendedprice + discount (aggregate): 4 of 11 columns
    for col in ("l_shipdate", "l_quantity", "l_extendedprice", "l_discount"):
        assert col in schema_line, schema_line
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
                "l_comment", "l_tax", "l_linestatus"):
        assert col not in schema_line, schema_line


def test_join_strategy_hints_honored(spark, sf_dir):
    """Planner-control pin: when statistics mislead, the engine's
    escape hatches are join hints — SHUFFLE_HASH must avoid the sort,
    MERGE must force SortMergeJoin, BROADCAST must broadcast."""
    from bigdatanycdiseasesurveillance_spark.tables import table

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    sh = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in executed_plan(sh), executed_plan(sh)
    mg = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in executed_plan(mg), executed_plan(mg)
    bc = li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey)
    assert "BroadcastHashJoin" in executed_plan(bc), executed_plan(bc)


def test_runtime_bloom_filter_prunes_shuffle_join(spark, tmp_path):
    """Runtime-filter pin: when a selective dim side CANNOT broadcast,
    Spark must still push a bloom filter of its join keys into the fact
    scan (bloom_filter_agg on the creation side, might_contain on the
    application side). At 100 TB this turns a full-fact shuffle into a
    shuffle of only rows that can possibly match. Conditions under
    which it fires (pinned here so they aren't re-derived): shuffle
    join (broadcast joins don't need it), creation side filtered and
    under creationSideThreshold, application scan above its threshold."""
    d = str(tmp_path)
    spark.range(200_000).selectExpr("id AS k", "id % 97 AS payload").write.parquet(
        d + "/fact"
    )
    spark.range(20_000).selectExpr("id AS k", "id % 13 AS tag").write.parquet(
        d + "/dim"
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(d + "/fact")
        dim = spark.read.parquet(d + "/dim").filter("tag = 3")
        plan = executed_plan(fact.join(dim, "k"))
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        assert "partial_bloom_filter_agg" in plan, plan  # map-side combine
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bm25_stays_jvm_side_with_broadcast_stats(spark, sf_dir):
    """BM25 must be pure column expressions (no Python nodes) with the
    vocabulary-sized df/corpus-stats tables broadcast — the postings
    explode is the only fact-sized dataflow."""
    df = q("search_bm25_topk", spark, sf_dir)
    plan = executed_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert broadcast_join_count(df) >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_levenshtein_pairs_no_cartesian(spark, sf_dir):
    """The edit-distance self-join must equi-join on the (source,
    length-bucket) block key — a cartesian/nested-loop here is the
    O(n^2) failure mode at corpus scale."""
    df = q("dedup_levenshtein_pairs", spark, sf_dir)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pagerank_iterations_broadcast_ranks(spark, sf_dir):
    """The PageRank iteration joins must broadcast the nodes-sized rank/
    contribution tables; the fact tables feed only the one-time edge
    build. 8 iterations => at least 8 broadcast joins in the plan."""
    df = q("graph_pagerank_nations", spark, sf_dir)
    assert broadcast_join_count(df) >= 8, executed_plan(df)


def test_rowhash_checksum_partial_aggregation(spark, sf_dir):
    """The XOR fold must combine map-side: the shuffle carries one
    8-byte partial per (partition, group), never raw fingerprints."""
    df = q("dq_rowhash_checksum", spark, sf_dir)
    assert has_partial_aggregation(df), executed_plan(df)


def test_hard_negatives_no_global_window(spark, sf_dir):
    """The per-anchor argmax must be a partial-aggregating groupBy on
    the anchor id — a Window here would single-partition the pair
    stream at scale."""
    df = q("ann_hard_negatives", spark, sf_dir)
    plan = executed_plan(df)
    assert "Window" not in plan, plan
    assert has_partial_aggregation(df), plan


def test_cms_partial_aggregation(spark, sf_dir):
    """The CMS build must map-side combine: the shuffle carries
    (d, bucket) partials, never raw items."""
    df = q("sketch_cms_user_counts", spark, sf_dir)
    assert has_partial_aggregation(df), executed_plan(df)


def test_containment_join_no_cartesian(spark, sf_dir):
    """Containment pairs block on source — the join must be an
    equi-join (hash/merge), never a cartesian over the corpus."""
    plan = executed_plan(q("dedup_containment_pairs", spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_scd2_point_in_time_no_cartesian(spark, sf_dir):
    """The point-in-time lookup must run as the union-window as-of —
    no cartesian/broadcast-nested-loop interval probe."""
    plan = executed_plan(q("join_scd2_point_in_time", spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan


def test_quarantine_no_python_nodes(spark, sf_dir):
    """Quarantine routing is from_json + aggregation — it must stay
    JVM-side (a Python UDF here would throttle every bronze load)."""
    plan = executed_plan(q("dq_quarantine_malformed", spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_rerank_candidates_bounded(spark, sf_dir):
    """Two-stage retrieval: the Python rerank stage must sit above a
    LIMIT (the candidate bound) — rerank cost is K rows, not corpus
    rows."""
    plan = executed_plan(q("search_rerank_2stage", spark, sf_dir))
    assert "MapInPandas" in plan, plan
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan, plan


def test_values_dims_plan_as_local_relation(spark, sf_dir):
    """Static dims must plan as LocalTableScan (VALUES -> LocalRelation),
    never Scan ExistingRDD: broadcasting a LocalTableScan is a driver-side
    collect with NO job, while createDataFrame's RDD form runs a
    32-task job per broadcast per query (the round-4 bench regression
    root cause)."""
    from bigdatanycdiseasesurveillance_spark.domain import location as L
    from bigdatanycdiseasesurveillance_spark.tables import values_dim

    for dim in (
        # the widest static dim: doubles and a string array per row
        values_dim(
            spark,
            L.NEIGHBORHOODS,
            "neighborhood string, borough string, lat_min double,"
            " lat_max double, lon_min double, lon_max double, zips array<string>",
        ),
        L.borough_zip_dim(spark),
    ):
        plan = executed_plan(dim)
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan, plan
    # the composed cascade must contain no RDD scan either
    df = q("loc_fallback_resolution", spark, sf_dir)
    assert "ExistingRDD" not in executed_plan(df)


def test_values_dim_roundtrips_types(spark):
    """values_dim literal emission: strings (with quotes), ints, floats
    (full precision), bools, string arrays, and NULLs must round-trip
    exactly, and the declared DDL types must stick."""
    from bigdatanycdiseasesurveillance_spark.tables import values_dim

    rows = [
        ("it's", 7, 0.1, True, ["a", "b'c"], None),
        ("x", -3, 2.5e-17, False, [], 9),
    ]
    df = values_dim(
        spark,
        rows,
        "s string, i bigint, f double, b boolean, arr array<string>, n bigint",
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string", "bigint", "double", "boolean", "array<string>", "bigint",
    ]
    got = [
        (r.s, r.i, r.f, r.b, list(r.arr), r.n)
        for r in df.orderBy("i").collect()
    ]
    assert got == [
        ("x", -3, 2.5e-17, False, [], 9),
        ("it's", 7, 0.1, True, ["a", "b'c"], None),
    ]
    assert "LocalTableScan" in executed_plan(df)


def test_chunk_boilerplate_never_all_pairs(spark, sf_dir):
    """Boilerplate flagging is an equi-join on the chunk key — the plan
    must contain no nested-loop/cartesian stage, and the chunk-support
    aggregation must partial-aggregate (map-side combine) before its
    shuffle."""
    df = q("txt_chunk_boilerplate", spark, sf_dir)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert has_partial_aggregation(df), plan


def test_global_rank_single_partition_only_for_offsets(spark, sf_dir):
    """The scale contract of the ranged rewrite: the per-row work is
    partitioned by the bucket key; only the tiny bucket-counts
    prefix-sum may use a single-partition exchange, and the offsets
    join back to rows must be a broadcast."""
    df = q("win_global_rank_ranged", spark, sf_dir)
    plan = executed_plan(df)
    assert broadcast_join_count(df) >= 1, plan


def test_ivf_search_uses_prebuilt_index(spark, sf_dir):
    """IVF query-time contract (the round-3 scale-killer, fixed): the
    search must NOT rebuild centroids — no explode/aggregation pass
    over the embedding corpus at query time. Pin: zero Generate
    (posexplode) nodes and exactly ONE scan of the embeddings table
    (the pruned candidate read)."""
    df = q("ann_ivf_search", spark, sf_dir)
    plan = executed_plan(df)
    assert "Generate" not in plan, plan
    assert plan.count("embeddings.parquet") == 1, plan


def test_sentence_profile_text_read_once(spark, sf_dir):
    """r12 scan-economics pin: the sentence pass reads the text column
    once; the n_docs branch re-scans only the pruned lang column. A
    regression that drags `text` into the count branch doubles the
    expensive column's IO at 100 TB."""
    df = q("txt_sentence_segmentation_profile", spark, sf_dir)
    plan = formatted_plan(df)
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    with_text = [s for s in schemas if "text" in s]
    assert len(schemas) == 2 and len(with_text) == 1, schemas
    # the cumsum windows run on the histogram frame partitioned by lang
    assert "No Partition Defined" not in executed_plan(df)


def test_systematic_sample_no_global_window(spark, sf_dir):
    """r12: the global rank must come from the bucketed device — no
    single-partition window over corpus rows (the WARN string Spark
    emits for one is absent), and the offsets dim joins back broadcast."""
    df = q("samp_systematic_interval", spark, sf_dir)
    plan = executed_plan(df)
    assert "No Partition Defined" not in plan, plan
    assert broadcast_join_count(df) >= 1, plan


def test_dedup_aware_mixing_allocation_on_dim_only(spark, sf_dir):
    """r12: the corpus fold happens ONCE behind the shared checkpoint;
    the final plan (total, leftover, remainder rank) must touch no
    parquet at all — it runs entirely on the sources-sized frame. The
    md5-before-exchange property of the keep-flag window is structural
    (the hash is a projected column below Window.partitionBy) and the
    corpus-side shape is pinned by the sweep's exchange budget."""
    df = q("cur_dedup_aware_mixing", spark, sf_dir)
    plan = executed_plan(df)
    assert "FileScan" not in plan, plan
    assert "text" not in plan, plan
