"""Graph analytics over a derived co-occurrence graph: triangle
counting with degree-ordered orientation — the companion to the
connected-components labeling in operators/dedup.py (duplicate groups
ARE a graph op; this adds the local-structure metric a curation
pipeline uses to characterize near-dup cluster density).

Scale notes: the classic hazard is wedge work exploding on hub
vertices (sum of degree^2). Orienting every edge from its
lower-(degree, id) endpoint to the higher one bounds each vertex's
out-degree by O(sqrt(|E|)) — the standard compact-forward guarantee —
so the oriented wedge join is linear-ish in |E|^1.5 worst case instead
of sum-of-squares, and every triangle is counted exactly once (unique
lowest endpoint in the orientation order). The oracle runs the naive
id-oriented 3-way self-join: orientation choice never changes the
count, which is precisely what makes the scale trick safely testable.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.aggregations import cents
from ..operators.bounded import bounded_collect
from ..registry import register
from ..tables import table, values_dim


@register(
    "graph_triangle_count",
    oracle="""
        WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lp a JOIN lp b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        deg AS (
            SELECT x, COUNT(*) AS d FROM (
                SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e
            ) GROUP BY x
        ),
        tri AS (
            SELECT COUNT(*) AS t
            FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        w AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS wedges FROM deg),
        v AS (SELECT COUNT(*) AS nv FROM deg),
        ne AS (SELECT COUNT(*) AS n_e FROM e)
        SELECT CAST(nv AS BIGINT) AS n_vertices,
               CAST(n_e AS BIGINT) AS n_edges,
               wedges AS n_wedges,
               CAST(t AS BIGINT) AS n_triangles,
               (3.0 * t) / wedges AS global_clustering
        FROM v, ne, w, tri
    """,
    tags=("graph", "triangle", "join"),
)
def graph_triangle_count(spark, sf_dir):
    """Triangles in the part co-purchase graph (parts sharing an
    order). Engine plan: distinct edges -> degree table (vertex-count
    rows, broadcast) -> orient each edge low-(degree,id) to high ->
    wedge equi-join on the middle vertex -> left-semi close against
    the oriented edge set. Global clustering coefficient emitted as
    the raw (3T)/wedges division — exact integers into IEEE division,
    bit-identical across engines. The oracle's naive 3-way self-join
    proves orientation-invariance of the count."""
    lp = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    # e feeds the degree table, the orientation join, and the edge
    # count; o feeds both wedge sides and the closing semi-join —
    # without checkpoints each consumer re-runs the fact self-join
    # (the dominant cost), tripling the plan
    e = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=False)
    )

    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=False)

    # Close via the oriented wedge equi-join + left-semi against the
    # edge set. An adjacency-intersect close (collect sorted
    # out-neighbor lists, |adj(a) ∩ adj(b)| per edge) was A/B-tested at
    # sf1: it wins 1.9x with AQE off, but under the
    # engine session (AQE on, which coalesces the wedge shuffle and
    # picks the semi-join strategy) the wedge close is ~1.3x FASTER
    # (60.5s vs 91.6s first-run close at sf1) — array-carrying shuffles
    # sort/spill worse than the flat (a,c) pairs AQE compacts. Keep the
    # wedge form; re-evaluate only with a measured win under AQE.
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "b")
    closing = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["a", "c"], "left_semi").agg(
        F.count("*").alias("t")
    )

    stats = deg.agg(
        F.count("*").cast("long").alias("n_vertices"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            F.col("t").cast("long").alias("n_triangles"),
            ((F.lit(3.0) * F.col("t")) / F.col("n_wedges")).alias(
                "global_clustering"
            ),
        )
    )


_PR_DAMP = 0.85
_PR_ITERS = 8
_PR_N = 25  # nation table cardinality (TPC-H constant)


def _pagerank_oracle() -> str:
    """Unrolled-iteration PageRank oracle (same device as the k-means
    oracle: fixed iterations, per-iteration ROUND so cross-engine
    float-sum drift cannot compound)."""
    parts = [
        f"""WITH edges AS (
            SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                   COUNT(*) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1, 2
        ), outw AS (
            SELECT src, SUM(w) AS tw FROM edges GROUP BY src
        ), en AS (
            SELECT e.src, e.dst, e.w / o.tw AS wn
            FROM edges e JOIN outw o ON e.src = o.src
        ), r0 AS (
            SELECT n_nationkey AS k, 1.0 / {_PR_N} AS pr FROM nation
        )"""
    ]
    for t in range(1, _PR_ITERS + 1):
        parts.append(
            f""", r{t} AS (
            SELECT n.n_nationkey AS k,
                   ROUND((1.0 - {_PR_DAMP}) / {_PR_N}
                         + {_PR_DAMP} * COALESCE(SUM(r.pr * en.wn), 0.0), 8)
                       AS pr
            FROM nation n
            LEFT JOIN en ON en.dst = n.n_nationkey
            LEFT JOIN r{t - 1} r ON r.k = en.src
            GROUP BY 1
        )"""
        )
    parts.append(
        f"""
        SELECT n.n_name AS nation, ROUND(r.pr, 6) AS pagerank
        FROM r{_PR_ITERS} r JOIN nation n ON n.n_nationkey = r.k
        """
    )
    return "".join(parts)


@register(
    "graph_pagerank_nations",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def graph_pagerank_nations(spark, sf_dir):
    """PageRank over the customer-nation -> supplier-nation trade graph
    (edge weight = lineitem count, out-weight-normalized), 8 fixed
    iterations, damping 0.85, per-iteration round-to-8 so the oracle
    replays bit-close. The scale split: building the weighted edge list
    is the heavy part (three fact joins, pure shuffle work on the
    cluster); the iteration then runs on a nodes-sized table that
    BROADCASTS - each round is one broadcast join + one tiny groupBy,
    never a fact rescan. Dangling-node mass is dropped (deterministic,
    mirrored in the oracle)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    en = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("tw")).alias("wn")
    )
    # nodes-sized tables from here on: cache the normalized edges so the
    # fact joins above run once, not once per iteration
    en = en.cache()
    ranks = n.select(F.col("n_nationkey").alias("k"), F.lit(1.0 / _PR_N).alias("pr"))
    for _ in range(_PR_ITERS):
        contrib = (
            en.join(F.broadcast(ranks), en.src == ranks.k)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("wn")).alias("mass"))
        )
        ranks = (
            n.join(F.broadcast(contrib), n.n_nationkey == contrib.dst, "left")
            .select(
                F.col("n_nationkey").alias("k"),
                F.round(
                    (1.0 - _PR_DAMP) / _PR_N
                    + _PR_DAMP * F.coalesce(F.col("mass"), F.lit(0.0)),
                    8,
                ).alias("pr"),
            )
        )
    return ranks.join(F.broadcast(n), ranks.k == n.n_nationkey).select(
        F.col("n_name").alias("nation"), F.round("pr", 6).alias("pagerank")
    )


_BFS_TOPK = 3
_BFS_MAX_HOPS = 25
# graph_bfs_hops' driver edge-list cap: src is the nation dim, so the
# list holds <= 25 x topk rows at any corpus size
BFS_EDGE_CAP = 10_000

# tree_subtree_rollup's capped driver fast path: at or under this many
# distinct users the heap-tree rollup runs on the driver; above it the
# level-synchronous distributed loop runs
TREE_FAST_PATH_NODES = 200_000


@register(
    "graph_bfs_hops",
    oracle=f"""
        WITH RECURSIVE e0 AS (
            SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE c.c_nationkey <> s.s_nationkey
            GROUP BY 1, 2
        ), e AS (
            SELECT src, dst FROM e0
            QUALIFY row_number() OVER (
                PARTITION BY src ORDER BY w DESC, dst) <= {_BFS_TOPK}
        ), walk(node, d) AS (
            SELECT CAST(0 AS BIGINT), 0
            UNION
            SELECT e.dst, w.d + 1
            FROM walk w JOIN e ON e.src = w.node
            WHERE w.d < {_BFS_MAX_HOPS}
        )
        SELECT node AS nationkey, CAST(MIN(d) AS BIGINT) AS hops
        FROM walk GROUP BY node
    """,
    tags=("graph", "bfs", "iterative"),
    bench=True,
)
def graph_bfs_hops(spark, sf_dir):
    """BFS hop levels from nation 0 over the top-3-strongest-partner
    trade graph (per-source top-k by exact integer edge weight, dst
    tie-break — deterministic and scale-free where a fixed weight
    threshold is not). Same scale split as PageRank: the edge build is
    the heavy distributed part (three fact joins, run once, cached);
    the traversal then iterates on node-sized frontiers — each hop is
    one tiny broadcast join + anti-join, with a scalar emptiness probe
    per level (bounded by graph diameter, the CC-convergence
    precedent). Unreachable nations are simply absent, matching the
    recursive-CTE oracle."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    wtop = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    edges = (
        e0.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= _BFS_TOPK)
        .select("src", "dst")
    )
    # The edge build above is the distributed corpus pass (three fact
    # joins + top-k window, recomputed from parquet every run). The
    # edge LIST it produces is bounded by construction — nationkey is
    # the 25-row nation dim, so <= nations x topk rows at ANY corpus
    # size — which makes the traversal bounded control plane, fetched by
    # ONE operators.bounded.bounded_collect in raise mode. A per-hop
    # DataFrame loop paid join + distinct + anti-join + checkpoint +
    # emptiness probe (~4 scheduler rounds) per level of a <= 25-node
    # frontier (~0.7s of the query's 0.9s warm time); the driver BFS
    # below yields identical (node, min-hop) levels. The cap enforces
    # the nation-dim invariant loudly instead of letting a hypothetical
    # unbounded key space collect onto the driver.
    head = bounded_collect(
        edges,
        BFS_EDGE_CAP,
        f"graph_bfs_hops: edge list exceeds BFS_EDGE_CAP={BFS_EDGE_CAP} "
        "rows — the driver BFS requires the nation-dim-bounded trade graph",
    )
    adj: dict[int, list[int]] = {}
    for a, b in zip(head.column("src").to_pylist(), head.column("dst").to_pylist()):
        adj.setdefault(int(a), []).append(int(b))
    hops = {0: 0}
    frontier = [0]
    for hop in range(1, _BFS_MAX_HOPS + 1):
        nxt = sorted(
            {d for n in frontier for d in adj.get(n, ()) if d not in hops}
        )
        if not nxt:  # frontier exhausted — diameter reached
            break
        for d in nxt:
            hops[d] = hop
        frontier = nxt
    return values_dim(
        spark,
        sorted((int(n), int(h)) for n, h in hops.items()),
        "nationkey bigint, hops bigint",
    )


@register(
    "tree_subtree_rollup",
    oracle="""
        WITH RECURSIVE v AS (
            SELECT user_id AS u,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1
        ), walk AS (
            SELECT u AS root, u AS node FROM v
            UNION ALL
            SELECT w.root, c.u
            FROM walk w JOIN v c ON c.u > 0 AND (c.u - 1) // 2 = w.node
        )
        SELECT w.root AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_subtree,
               CAST(SUM(n.cents) AS BIGINT) AS subtree_cents
        FROM walk w JOIN v n ON n.u = w.node
        GROUP BY w.root
    """,
    tags=("graph", "tree", "hierarchy", "iterative"),
)
def tree_subtree_rollup(spark, sf_dir):
    """Hierarchy rollup (BOM explosion / org-chart subtree totals): the
    user population forms a heap-numbered tree (parent(u) = (u-1) div
    2), and every node reports its subtree size and subtree value in
    exact cents. Engine form: LEAF-PRUNING level-synchronous
    aggregation — each round, nodes with no unprocessed children fold
    their accumulated totals into their parent and retire; rounds =
    tree depth (log n), every round one anti-join + one parent-keyed
    groupBy on the node-sized table, never a path-enumeration join
    (the oracle's recursive descendant walk materializes n x depth
    rows — fine for the oracle, wrong at 1e9 nodes). The per-level
    scalar emptiness probe is the CC-convergence precedent."""
    nodes = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").cast("long").alias("node"))
        .agg(
            F.expr(f"sum({cents('value')})").alias("sub_v"),
            F.lit(1).cast("long").alias("n"),
        )
        .withColumn(
            "parent",
            F.when(F.col("node") > 0, F.expr("(node - 1) DIV 2")),
        )
        .cache()
    )
    # Small-population fast path (operators.bounded.bounded_collect,
    # falling back on None): the node table is one row per DISTINCT
    # user, and the level-synchronous loop below costs ~4 actions per
    # tree level (depth = log2 users) — measured 6.5-6.7 s of pure
    # control plane at sf0.1 against 0.15 s of execution. At or under
    # the cap the rollup runs on the driver in exact integer arithmetic:
    # descending-id traversal folds every child into its parent before
    # the parent folds (heap numbering gives parent < child), which is
    # the same bottom-up sum the leaf-pruning rounds compute — integer
    # adds, so bit-identical including the missing-parent drop semantics
    # (a pushed total whose parent id is absent vanishes in both forms).
    # Above the cap (and on empty or null-bearing input) the
    # distributed loop runs.
    head = bounded_collect(nodes.select("node", "sub_v"), TREE_FAST_PATH_NODES)
    if (
        head is not None
        and head.num_rows
        and not any(head.column(c).null_count for c in ("node", "sub_v"))
    ):
        import pandas as pd

        vals = {
            int(n): [int(v), 1]
            for n, v in zip(
                head.column("node").to_pylist(), head.column("sub_v").to_pylist()
            )
        }
        for u in sorted(vals, reverse=True):
            if u > 0:
                p = (u - 1) // 2
                if p in vals:
                    vals[p][0] += vals[u][0]
                    vals[p][1] += vals[u][1]
        out = pd.DataFrame(
            {
                "user_id": pd.Series(sorted(vals), dtype="int64"),
                "n_subtree": pd.Series(
                    [vals[u][1] for u in sorted(vals)], dtype="int64"
                ),
                "subtree_cents": pd.Series(
                    [vals[u][0] for u in sorted(vals)], dtype="int64"
                ),
            }
        )
        return spark.createDataFrame(
            out, "user_id long, n_subtree long, subtree_cents long"
        )
    cur = nodes.select("node", "parent", "sub_v", F.col("n").alias("n_subtree"))
    done = None
    for _ in range(40):  # bound >> any realistic depth; loop exits at root
        # localCheckpoint truncates lineage: each round references the
        # previous frame ~3x, so without truncation the logical plan
        # grows 3^depth and the driver OOMs building plan strings
        cur = cur.localCheckpoint(eager=True)
        children = cur.select(F.col("parent").alias("cnode")).distinct()
        leaves = cur.join(
            children, cur.node == children.cnode, "left_anti"
        ).localCheckpoint(eager=True)
        if leaves.limit(1).count() == 0:
            break
        done = leaves if done is None else done.unionByName(leaves)
        pushed = leaves.filter(F.col("parent").isNotNull()).groupBy(
            F.col("parent").alias("tnode")
        ).agg(
            F.sum("sub_v").alias("add_v"), F.sum("n_subtree").alias("add_n")
        )
        rest = cur.join(leaves.select("node"), "node", "left_anti")
        cur = rest.join(
            F.broadcast(pushed), rest.node == pushed.tnode, "left"
        ).select(
            "node",
            "parent",
            (F.col("sub_v") + F.coalesce(F.col("add_v"), F.lit(0))).alias(
                "sub_v"
            ),
            (
                F.col("n_subtree") + F.coalesce(F.col("add_n"), F.lit(0))
            ).alias("n_subtree"),
        )
    return done.select(
        F.col("node").alias("user_id"),
        "n_subtree",
        F.col("sub_v").alias("subtree_cents"),
    )
