"""Spatial / embedding clustering operators (SURVEY §2.11 M7-M9, M14).

The reference runs sklearn DBSCAN / KMeans on a driver-side pandas frame
(reference: src/analysis/spatial_clustering.py:299-378). Engine design:

- KMeans      -> Spark ML (native, distributed, seeded)          (M8)
- DBSCAN      -> grid-cell partitioning + per-cell local scan +
                 cross-cell merge via iterative min-label
                 propagation (no GraphFrames dependency)         (M7)
- coherence   -> per-cluster mean pairwise cosine (M14) over the
                 knn/pair machinery in operators.similarity

Grid-DBSCAN scale story: cells are eps-sized, so every true neighbor
pair lives in the same or an adjacent cell. Edge discovery is an
equi-join on cell ids (9 offsets exploded), local density counting is a
groupBy, and the cluster merge is O(diameter) rounds of a broadcast-size
label table — no step ever materializes O(n^2) pairs globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sql_text import dlit
from .bounded import bounded_collect, min_label_components

# Small-corpus fast-path cap for the Lloyd loop: at or under this many
# points the whole fixed-iteration loop runs on the driver off ONE
# operators.bounded.bounded_collect (<= cap x (d+1) doubles — ~27 MB at
# d=16, the same bounded-driver-materialization class as
# dedup.SMALL_GRAPH_PAIRS). Above the cap the distributed loop runs, so
# the 100 TB shape is unchanged. Why: each distributed iteration costs
# one 2-stage k-row aggregate job + a collect round trip (~160 ms of
# pure control plane at any corpus size; ~1.3 s of
# dedup_semdedup_profile's warm time was this loop's scheduling, not
# compute).
SMALL_KMEANS_POINTS = 200_000

# Hard cap on cellgrid_assign's driver collect: the eps-grid invariant
# bounds cells at geography/eps^2 (a few hundred for every in-repo
# caller at ANY corpus size), so the cap is pure contract enforcement —
# orders of magnitude of headroom, never reachable without a caller
# violating the invariant, and a loud ValueError beats an unbounded
# driver materialization.
BOUNDED_CELLS_CAP = 500_000


def _round6_spark(x: float) -> float:
    """Replicate Spark's round(double, 6) exactly: codegen evaluates
    java.math.BigDecimal.valueOf(x) — the SHORTEST decimal string of x,
    same digits as Python repr — then setScale(6, HALF_UP).doubleValue().
    Decimal(repr(x)) is that same shortest representation (NOT the exact
    binary expansion Decimal(x) would give, which rounds differently on
    e.g. 0.1234565)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _driver_lloyd(pids, cols, k: int, iters: int):
    """The fixed-iteration Lloyd loop on the driver — bit-compatible with
    the distributed selectExpr build:

    - init: the k smallest pids in pid order, cids 0..k-1;
    - distances: (v - c) * (v - c) accumulated left-associatively over
      dims — numpy elementwise float64 ops are the same IEEE-754
      operations codegen emits, so every distance is bit-identical;
    - assignment: argmin over centroid columns in ascending-cid order —
      numpy's first-minimum rule IS the CASE chain's tie-to-smallest-cid;
    - update: per-cluster mean (math.fsum — the correctly-rounded sum,
      inside the half-ulp band the engine/oracle fold orders already
      occupy) rounded like Spark's round(.., 6) via _round6_spark;
      clusters that lose every member drop out, exactly like the
      distributed groupBy.

    Returns (assign_cids: list[int] aligned with pids, centroids:
    [(cid, [dim means...])...] after the final update)."""
    import math

    import numpy as np

    n = len(pids)
    order = np.argsort(np.asarray(pids))[: min(k, n)]
    centroids = [
        (i, [float(c[idx]) for c in cols]) for i, idx in enumerate(order)
    ]
    assign_cid = None
    for _ in range(iters):
        dcols = []
        for _cid, vec in centroids:
            acc = (cols[0] - vec[0]) * (cols[0] - vec[0])
            for j in range(1, len(cols)):
                acc = acc + (cols[j] - vec[j]) * (cols[j] - vec[j])
            dcols.append(acc)
        pos = np.argmin(np.column_stack(dcols), axis=1)
        cid_arr = np.asarray([cid for cid, _ in centroids], dtype=np.int64)
        assign_cid = cid_arr[pos]
        new_centroids = []
        for ci, (cid, _vec) in enumerate(centroids):
            mask = pos == ci
            cnt = int(mask.sum())
            if cnt:
                new_centroids.append(
                    (
                        cid,
                        [
                            _round6_spark(math.fsum(c[mask]) / cnt)
                            for c in cols
                        ],
                    )
                )
        centroids = new_centroids  # ascending cid preserved
    return assign_cid, centroids


def _lloyd_head(pts: DataFrame, dim_names: list[str]):
    """One operators.bounded.bounded_collect serving as both the size
    probe and the point fetch. Returns (pids, [dim arrays...]) when the
    corpus is at or under SMALL_KMEANS_POINTS and clean (non-null), else
    None — the caller then runs the distributed loop. Empty or
    null-bearing frames also fall through, so degenerate inputs keep the
    distributed loop's semantics."""
    head = bounded_collect(pts, SMALL_KMEANS_POINTS)
    if head is None or head.num_rows == 0:
        return None
    if any(head.column(c).null_count for c in ("pid", *dim_names)):
        return None
    pids = head.column("pid").to_numpy(zero_copy_only=False)
    cols = [
        head.column(c).to_numpy(zero_copy_only=False) for c in dim_names
    ]
    return pids, cols


# lloyd_kmeans_2d's cluster count and fixed iteration count, shared
# with its DuckDB replay (queries/mm_cluster_q._kmeans_assign_cte)
KMEANS_K = 5
KMEANS_ITERS = 8


def seeded_jitter(id_expr: str, seed: int = 42) -> str:
    """M9: deterministic coordinate jitter in [-0.02, 0.02) (the
    reference seeds numpy and adds uniform(-0.02, 0.02) so same-borough
    records don't collapse to one point,
    spatial_clustering.py:249-263). Engine form: a 31-bit LCG on the
    row id — pure integer arithmetic, so ANY engine reproduces it
    bit-for-bit (np.random.uniform would differ per runtime); replayable
    on retries, unlike rand(). The id is reduced mod 2^31 first so the
    multiply stays inside int64 at any id scale. Spark SQL text over the
    SQL text of the id (2147483648 parses as a BIGINT literal)."""
    r = f"((({id_expr}) % 2147483648) * 1103515245 + {12345 + seed}) % 2147483648"
    return f"(CAST({r} AS DOUBLE) / {dlit(2147483648.0)}) * {dlit(0.04)} - {dlit(0.02)}"


def jitter_sql(id_expr: str, seed: int = 42) -> str:
    """The DuckDB-equivalent expression of seeded_jitter (exact integer
    LCG, identical double result)."""
    return (
        f"(((({id_expr}) % 2147483648) * 1103515245 + {12345 + seed}) % 2147483648)"
        f" / 2147483648.0 * 0.04 - 0.02"
    )


def lloyd_kmeans_2d(points: DataFrame) -> DataFrame:
    """M8, deterministic variant: Lloyd's k-means (KMEANS_K clusters,
    KMEANS_ITERS iterations) on 2-D (vec_id, x, y) points (the reference
    clusters geographic coordinates, spatial_clustering.py:342-378) —
    lloyd_kmeans_nd with d = 2, whose SQL-replayable semantics the
    DuckDB oracle replays exactly. Returns (vec_id, cluster_id)."""
    assigned, _ = lloyd_kmeans_nd(
        points, ["x", "y"], k=KMEANS_K, iters=KMEANS_ITERS, id_col="vec_id"
    )
    return assigned.select(
        F.col("pid").alias("vec_id"), F.col("cluster_id").cast("long").alias("cluster_id")
    )


def grid_dbscan(
    points: DataFrame,
    eps: float,
    min_samples: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """M7: density clustering with DBSCAN semantics on 2-D (x, y) points.

    1. cell id = (floor(x/eps), floor(y/eps)) — every eps-neighbor pair
       shares a cell or touches an adjacent one;
    2. epsilon-edges: explode 9 neighbor-cell offsets, equi-join on the
       target cell, exact distance filter;
    3. core points: neighbor count (incl. self) >= min_samples;
    4. clusters: connected components over core-core edges via
       operators.dedup.connected_components (pointer-jumping min-label,
       O(log diameter) materializations, loud-fail convergence);
    5. border points attach to the min cluster among core neighbors;
       everything else is noise (cluster_id = -1).

    Returns (id, cluster_id, is_core). Deterministic: labels are min
    point-ids, ties in border attachment break on min cluster id.
    """
    pts = points.select(
        F.col(id_col).alias("pid"),
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
        F.floor(F.col("x") / eps).cast("long").alias("cx"),
        F.floor(F.col("y") / eps).cast("long").alias("cy"),
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    # Explicit cell-key partitioning on BOTH join inputs (r14, the r13
    # compute-aware-repartition device): the eps-cell equi-join fans a
    # byte-small input out quadratically (90k probe rows -> 12M pairs at
    # sf0.1), and AQE's BYTE-based coalescing handed that join 1-2 tasks
    # on 32 idle cores (measured: the single-task 0.3-0.6s stages
    # dominating cluster_geo_pipeline). repartition(N, cellkey) IS the
    # join's own shuffle (no extra exchange — the join reuses the
    # user-specified hash partitioning, which AQE leaves alone); it only
    # pins the partition count to the cluster width.
    probes = (
        pts.select(
            "pid",
            "x",
            "y",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("cx") + dx).alias("tx"), (F.col("cy") + dy).alias("ty")
                        )
                        for dx, dy in offsets
                    ]
                )
            ).alias("o"),
        )
        .select("pid", "x", "y", F.col("o.tx").alias("cx"), F.col("o.ty").alias("cy"))
    )
    targets = pts.select(
        F.col("pid").alias("qid"), F.col("x").alias("qx"), F.col("y").alias("qy"), "cx", "cy"
    )
    dist2 = (F.col("x") - F.col("qx")) ** 2 + (F.col("y") - F.col("qy")) ** 2
    # No distinct needed (r14): only the PROBE side is exploded — a
    # target point lives in exactly ONE home cell, and a probe point's 9
    # neighbor cells are pairwise distinct, so a given (pid, qid) pair
    # can satisfy the cell equi-join in at most one cell. (The oracle's
    # edges CTE has no DISTINCT for the same reason.) The previous
    # .distinct() was a corpus-sized exchange + dedup over an
    # already-unique set — 12M rows of pure overhead per consumer
    # subtree at sf0.1, verified max-multiplicity-1 before removal.
    # ONE materialization of the eps-edge list (r14): the edge subtree
    # feeds ~4 consumers (degree/core, core_edges -> CC, border, and
    # their broadcast builds), and each broadcast-exchange future was
    # re-executing the whole 12M-row join as its own single-task job
    # (profiled: cluster_geo_pipeline spent most of its 12s warm in
    # those repeated subtrees; the lazy checkpoint took it to ~7-9s,
    # interleaved A/B). Storage class is the same as the CC loop's own
    # edge checkpoint one step down — output-sized id pairs, never the
    # coordinates. (Explicit cell-key repartitions of the join inputs
    # were also A/B'd here and REJECTED: neutral under the checkpoint.)
    edges = (
        probes.join(targets, ["cx", "cy"])
        .filter(dist2 <= F.lit(eps * eps))
        .select("pid", "qid")
        .localCheckpoint(eager=False)
    )
    degree = edges.groupBy("pid").agg(F.count("*").alias("n_neighbors"))
    core = degree.filter(F.col("n_neighbors") >= min_samples).select("pid")
    core_edges = (
        edges.join(core, "pid")
        .join(core.select(F.col("pid").alias("qid")), "qid")
        .filter(F.col("pid") != F.col("qid"))
    )
    # Cluster labeling: delegated to operators.dedup.connected_components
    # (two propagation steps + one pointer-jump per materialization,
    # sum-probe convergence, loud fail at the cap). Label contract is
    # unchanged — min core pid of the component — and the r9 sf1 audit
    # proved the two labelers value-identical on all three exact-DBSCAN
    # registry queries at sf0.01 AND sf1 while this one is 3-7x faster
    # (530->78s on cluster_geo_pipeline at sf1: fewer materializations
    # and one sum-probe per block instead of a per-round changed-count
    # join). Its fast path and distributed fallback are proven equal
    # in tests/test_driver_fast_paths.py, and all three exact-DBSCAN
    # queries keep their DuckDB oracles.
    from .dedup import connected_components

    cc = connected_components(
        core_edges.select(F.col("pid").alias("id_a"), F.col("qid").alias("id_b"))
    ).select(F.col("doc_id").alias("lid"), F.col("canonical_id").alias("cluster_id"))
    # connected_components labels only nodes with at least one core-core
    # edge; a core point with no other core in range is its own cluster
    isolated = core.join(
        cc.select(F.col("lid").alias("pid")), "pid", "left_anti"
    ).select(F.col("pid").alias("lid"), F.col("pid").alias("cluster_id"))
    core_labeled = cc.unionByName(isolated)
    border = (
        edges.join(core_labeled, edges.qid == F.col("lid"))
        .groupBy("pid")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .join(core.select(F.col("pid").alias("cpid")), F.col("pid") == F.col("cpid"), "left_anti")
    )
    assigned = core_labeled.select(
        F.col("lid").alias("pid"), "cluster_id", F.lit(True).alias("is_core")
    ).unionByName(border.select("pid", "cluster_id", F.lit(False).alias("is_core")))
    return (
        pts.select("pid")
        .join(assigned, "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            F.coalesce(F.col("cluster_id"), F.lit(-1)).alias("cluster_id"),
            F.coalesce(F.col("is_core"), F.lit(False)).alias("is_core"),
        )
    )


def cluster_profiles(assigned: DataFrame, points: DataFrame) -> DataFrame:
    """A8/M14 rollup: per-cluster size + centroid of points joined on
    vec_id (the reference's pandas value_counts profile, natively)."""
    joined = assigned.filter(F.col("cluster_id") >= 0).join(points, "vec_id")
    return joined.groupBy("cluster_id").agg(
        F.count("*").alias("size"),
        F.round(F.avg("x"), 4).alias("centroid_x"),
        F.round(F.avg("y"), 4).alias("centroid_y"),
    )


def cellgrid_assign(cells: DataFrame, key_mult: int = 100000) -> DataFrame:
    """Corpus-size-independent geographic density clustering over
    eps-grid micro-cells (the production scale path that avoids the
    exact eps-graph DBSCAN's quadratic densification).

    Input: one row per occupied cell (cx, cy, w = point count).
    Output: (cx, cy, w, cid) — cid is the min core-cell key of the
    cluster, -1 for noise. Core rule: weighted 8-neighborhood density
    at least 1.2x the corpus mean, in exact integers
    (10*dens*C >= 12*cnt*N), so the contract is replayable and stays
    meaningful at any corpus density — an absolute min_pts saturates to
    one giant cluster as data grows on fixed geography. Every join and
    CC iteration is keyed by CELL; the cell count is bounded by
    geography/eps^2, so the plan is identical at 100x the points."""
    # The ENTIRE cascade below (8-neighborhood density, relative-density
    # core rule, cell CC, border attach, noise) is cell-level work on a
    # bounded frame, so it runs driver-side off ONE
    # operators.bounded.bounded_collect (raise mode) and returns a
    # LocalRelation. A DataFrame cascade — 4 checkpoints, ~10 broadcast
    # exchanges, a cell-edge collect — cost ~25 scheduler round-trips
    # per run (measured sf0.1: ~1.7s of the cellgrid flagship's 2.7s
    # warm time was this control plane, job-sum only 0.97s). The collect
    # is cells <= geography/eps^2 rows of three longs. All arithmetic
    # below is integer-exact (Python ints are wider than BIGINT
    # columns, matching the DuckDB oracle's HUGEINT promotion rather
    # than Spark's silent non-ANSI wrap).
    from ..tables import values_dim

    spark = cells.sparkSession
    head = bounded_collect(
        cells.selectExpr(
            "CAST(cx AS BIGINT) AS cx", "CAST(cy AS BIGINT) AS cy", "CAST(w AS BIGINT) AS w"
        ),
        BOUNDED_CELLS_CAP,
        "cellgrid_assign: occupied-cell count exceeds the bounded-cells "
        f"cap BOUNDED_CELLS_CAP={BOUNDED_CELLS_CAP} — the eps-grid contract "
        "bounds cells at geography/eps^2 (corpus-size-independent); a "
        "caller hitting this cap is passing a corpus-dependent frame and "
        "must use the distributed grid_dbscan cascade",
    )
    out_schema = "cx bigint, cy bigint, w bigint, cid bigint"
    if head.num_rows == 0:
        return spark.createDataFrame([], out_schema)
    cw = {
        (x, y): w
        for x, y, w in zip(
            head.column("cx").to_pylist(),
            head.column("cy").to_pylist(),
            head.column("w").to_pylist(),
        )
    }
    n = sum(cw.values())
    c = len(cw)
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]

    def neighbors(x: int, y: int):
        for dx, dy in offsets:
            q = (x + dx, y + dy)
            if q in cw:
                yield q

    # core rule in exact integers: 10*dens*c >= 12*cnt*n, where
    # dens/cnt are the weighted sum / count of the occupied 8-
    # neighborhood (self included) — identical to the previous
    # dens-join + tot-crossJoin formulation
    core: list[tuple[int, int]] = []
    for x, y in cw:
        dens = cnt = 0
        for q in neighbors(x, y):
            dens += cw[q]
            cnt += 1
        if 10 * dens * c >= 12 * cnt * n:
            core.append((x, y))
    # k = cx*key_mult + cy is injective iff the OCCUPIED cy span stays
    # under key_mult (negative cy is fine — geo callers floor
    # longitudes below zero). Raise exactly when the previous plan's
    # when/otherwise key expression would have: the expression only
    # evaluated on CORE rows, so an out-of-span corpus with no core
    # cells passed through silently (keys are never consumed then).
    if core:
        cy_span = max(y for _, y in cw) - min(y for _, y in cw)
        if cy_span >= key_mult:
            raise ValueError(
                "cellgrid_assign: occupied cy span >= key_mult — packed "
                "cell keys would collide; raise key_mult"
            )
    core_set = set(core)
    key = {q: q[0] * key_mult + q[1] for q in core}

    # CC over core-core grid adjacency: the shared min-label union-find
    # (operators.bounded), the same labels as connected_components
    # (component minimum of the packed key). neighbors() includes the
    # cell itself, so every core cell seeds itself through a self-edge.
    label = min_label_components(
        (key[q], key[p]) for q in core for p in neighbors(*q) if p in core_set
    )
    rows: list[tuple[int, int, int, int]] = []
    for x, y in cw:
        if (x, y) in core_set:
            cid = label[key[(x, y)]]
        else:
            core_nb = [
                label[key[p]] for p in neighbors(x, y) if p in core_set
            ]
            cid = min(core_nb) if core_nb else -1  # border else noise
        rows.append((x, y, cw[(x, y)], cid))
    return values_dim(spark, sorted(rows), out_schema)


def lloyd_kmeans_nd(
    points: DataFrame,
    dim_cols: list[str],
    k: int = 4,
    iters: int = 4,
    id_col: str = "pid",
    precheckpointed: bool = False,
):
    """M8, deterministic variant: Lloyd's k-means on d-dimensional
    points with SQL-expressible semantics so the DuckDB oracle can
    replay it exactly:

    - init: the k points with the smallest ids, cluster ids 0..k-1 in
      id order (no sampling — reproducible everywhere);
    - assignment: nearest centroid by squared distance, ties to the
      smallest cluster id;
    - update: per-cluster mean, ROUNDED to 6 decimals each iteration so
      cross-engine float-sum last-bit drift cannot compound;
    - fixed `iters` iterations (no convergence test — both sides run
      the same count).

    Returns (assigned, centroids): assigned = (pid, dims...,
    cluster_id); centroids = the FINAL rounded centroid list [(cid,
    [v0..vd-1]), ...] — callers compute reconstruction/quantization
    stats against these exact literals so both engines measure against
    the same numbers. Scale: points never leave the cluster; per
    iteration one k-literal broadcast compare + one k-key groupBy; only
    k centroid rows cross the control plane.

    Small-corpus fast path: at or under SMALL_KMEANS_POINTS the whole
    loop runs driver-side off one capped collect (_driver_lloyd —
    bit-compatible arithmetic, see there); above the cap the
    distributed loop below runs.

    precheckpointed=True skips the internal localCheckpoint — for
    callers (the PQ family) that train several codebooks as slices of
    ONE already-checkpointed wide projection: checkpointing each slice
    separately would materialize the scan once per subspace."""
    pts = points.select(
        F.col(id_col).alias("pid"), *[F.col(c).cast("double").alias(c) for c in dim_cols]
    )
    if not precheckpointed:
        pts = pts.localCheckpoint(eager=False)
    # The fast path's assigned frame comes back as a local relation
    # whose dim columns are the exact collected doubles; cluster_id is
    # int to match the distributed CASE literal type.
    head = _lloyd_head(pts, list(dim_cols))
    if head is not None:
        import pandas as pd

        pids, cols = head
        assign_cid, centroids = _driver_lloyd(pids, cols, k, iters)
        out = pd.DataFrame({"pid": pd.Series(pids, dtype="int64")})
        for c, arr in zip(dim_cols, cols):
            out[c] = pd.Series(arr, dtype="float64")
        out["cluster_id"] = pd.Series(assign_cid, dtype="int32")
        schema = "pid long, " + ", ".join(
            f"`{c}` double" for c in dim_cols
        ) + ", cluster_id int"
        assigned = points.sparkSession.createDataFrame(out, schema)
        return assigned, centroids
    init = pts.orderBy("pid").limit(k).collect()
    centroids = [(i, [float(r[c]) for c in dim_cols]) for i, r in enumerate(init)]
    assigned = None
    for _ in range(iters):
        # Each iteration is built as selectExpr SQL strings instead of
        # ~50 Column-object calls per dim: profiling showed most of the
        # per-iteration cost was driver-side Py4J expression
        # construction, not execution. CAST('<repr>' AS DOUBLE) literals
        # round-trip Python floats exactly (repr is shortest-exact; a
        # bare SQL decimal literal would be DECIMAL), the d0+d1+... sum
        # parses left-associative, and least + first-match CASE keeps
        # the tie-to-smallest-cid rule.
        d_exprs = [
            " + ".join(
                f"(`{c}` - CAST('{v!r}' AS DOUBLE))"
                f" * (`{c}` - CAST('{v!r}' AS DOUBLE))"
                for c, v in zip(dim_cols, vec)
            )
            + f" AS __d{cid}"
            for cid, vec in centroids
        ]
        least = "least(" + ", ".join(f"__d{cid}" for cid, _ in centroids) + ")"
        case = (
            "CASE "
            + " ".join(  # ascending cid -> ties break to smallest id
                f"WHEN __d{cid} = __m THEN {cid}" for cid, _ in centroids
            )
            + " END AS cluster_id"
        )
        qcols = [f"`{c}`" for c in dim_cols]
        assigned = (
            pts.selectExpr("pid", *qcols, *d_exprs)
            .selectExpr("pid", *qcols, f"{least} AS __m", *[
                f"__d{cid}" for cid, _ in centroids
            ])
            .selectExpr("pid", *qcols, case)
        )
        # k rows — sort driver-side; a DataFrame orderBy would add a
        # range-partition sampling job to every iteration
        new_c = (
            assigned.groupBy("cluster_id")
            .agg(*[F.round(F.avg(c), 6).alias(c) for c in dim_cols])
            .collect()
        )
        centroids = sorted(
            (int(r["cluster_id"]), [float(r[c]) for c in dim_cols]) for r in new_c
        )
    return assigned, centroids
