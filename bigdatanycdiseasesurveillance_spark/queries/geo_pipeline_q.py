"""The reference's flagship spatial analysis as ONE composed query
(reference: src/analysis/spatial_clustering.py:249-340 end-to-end):
seeded coordinate jitter -> point-in-bbox neighborhood join ->
grid-DBSCAN -> per-cluster profile with the dominant neighborhood.

Every stage is individually green elsewhere (cluster_dbscan_jittered,
loc_fallback_resolution, cluster_grid_dbscan); this entry makes the
composition itself a driver-checkable row with one chained-CTE oracle.

Scale shape: the bbox dim broadcasts (KB-sized — BroadcastNestedLoop on
the non-equi predicate, fact side never shuffles), DBSCAN edges come
from eps-grid equi-joins (never all-pairs), and the profile is a
cluster-key groupBy. The only collects are connected_components'
per-block convergence sum-probes (1-row scalars, O(log diameter) of
them).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..domain.location import NEIGHBORHOODS
from ..functions.sql_text import dlit, slit
from ..operators import clustering as C
from ..operators.clustering import jitter_sql
from ..registry import register
from ..tables import table

_EPS = 0.03
_MIN_SAMPLES = 3


# (x, y) of a purchase event: the user_id lattice plus the exact
# integer-LCG jitter, as Spark SQL text over an events row
_POINT_X = (
    f"{dlit(40.60)} + CAST(user_id % 37 AS DOUBLE) / {dlit(100.0)}"
    f" + ({C.seeded_jitter('event_id', seed=7)})"
)
_POINT_Y = (
    f"{dlit(-74.00)} + CAST(user_id % 23 AS DOUBLE) / {dlit(100.0)}"
    f" + ({C.seeded_jitter('event_id', seed=8)})"
)


def _min_bbox_neighborhood() -> str:
    """MIN(neighborhood) over the static bboxes containing (x, y), as
    Spark SQL text — the NEIGHBORHOODS dim is 8 in-code constants, so
    the bbox containment test needs no join at all. least skips NULLs,
    so this is exactly the broadcast-bbox-join + groupBy(point)
    MIN(neighborhood) it replaces (r13: that groupBy was a corpus-wide
    exchange whose only job was collapsing the rare shared-edge
    multi-match); NULL means "in no bbox" (the old inner join's
    drop)."""
    return "least(" + ", ".join(
        f"CASE WHEN x >= {dlit(lat_min)} AND x <= {dlit(lat_max)}"
        f" AND y >= {dlit(lon_min)} AND y <= {dlit(lon_max)} THEN {slit(name)} END"
        for name, _b, lat_min, lat_max, lon_min, lon_max, _z in NEIGHBORHOODS
    ) + ")"


def _geo_oracle() -> str:
    nbhd_values = """
            SELECT * FROM (VALUES
                ('Astoria',40.756,40.786,-73.945,-73.905),
                ('Williamsburg',40.697,40.725,-73.972,-73.935),
                ('Bushwick',40.683,40.709,-73.945,-73.895),
                ('Harlem',40.797,40.835,-73.965,-73.920),
                ('East Village',40.721,40.734,-73.995,-73.972),
                ('Riverdale',40.880,40.915,-73.930,-73.890),
                ('Flushing',40.745,40.775,-73.845,-73.800),
                ('St. George',40.635,40.650,-74.090,-74.065))
                t(neighborhood, lat_min, lat_max, lon_min, lon_max)
    """
    return f"""
        WITH RECURSIVE rec AS (
            SELECT event_id AS pid,
                   40.60 + CAST(user_id % 37 AS DOUBLE) / 100.0
                         + ({jitter_sql("event_id", seed=7)}) AS x,
                   -74.00 + CAST(user_id % 23 AS DOUBLE) / 100.0
                          + ({jitter_sql("event_id", seed=8)}) AS y
            FROM events WHERE event_type = 'purchase'
        ), nbhd AS ({nbhd_values}
        ), pts AS (
            SELECT r.pid, r.x, r.y, MIN(n.neighborhood) AS neighborhood
            FROM rec r JOIN nbhd n
              ON r.x >= n.lat_min AND r.x <= n.lat_max
             AND r.y >= n.lon_min AND r.y <= n.lon_max
            GROUP BY 1, 2, 3
        ), pc AS (
            SELECT pid, x, y,
                   CAST(FLOOR(x / {_EPS}) AS BIGINT) AS cx,
                   CAST(FLOOR(y / {_EPS}) AS BIGINT) AS cy
            FROM pts
        ), pn AS (
            SELECT pid, x, y, cx + dx.d AS jx, cy + dy.d AS jy
            FROM pc,
                 (SELECT unnest([-1, 0, 1]) AS d) dx,
                 (SELECT unnest([-1, 0, 1]) AS d) dy
        ), edges AS (
            SELECT a.pid, b.pid AS qid
            FROM pn a JOIN pc b ON b.cx = a.jx AND b.cy = a.jy
            WHERE POWER(a.x - b.x, 2) + POWER(a.y - b.y, 2)
                  <= {_EPS} * {_EPS}
        ), core AS (
            SELECT pid FROM edges GROUP BY pid
            HAVING COUNT(*) >= {_MIN_SAMPLES}
        ), core_edges AS (
            SELECT e.pid, e.qid FROM edges e
            JOIN core c1 ON e.pid = c1.pid
            JOIN core c2 ON e.qid = c2.pid
            WHERE e.pid <> e.qid
        ), walk(node, comp) AS (
            SELECT pid, pid FROM core
            UNION
            SELECT ce.qid, w.comp
            FROM walk w JOIN core_edges ce ON ce.pid = w.node
            WHERE w.comp < ce.qid
        ), core_label AS (
            SELECT node AS pid, MIN(comp) AS cluster_id FROM walk GROUP BY node
        ), border AS (
            SELECT e.pid, MIN(cl.cluster_id) AS cluster_id
            FROM edges e JOIN core_label cl ON e.qid = cl.pid
            WHERE e.pid NOT IN (SELECT pid FROM core)
            GROUP BY e.pid
        ), assigned AS (
            SELECT pid, cluster_id FROM core_label
            UNION ALL SELECT pid, cluster_id FROM border
        ), prof AS (
            SELECT a.cluster_id, p.neighborhood, COUNT(*) AS cnt
            FROM assigned a JOIN pts p ON a.pid = p.pid
            GROUP BY 1, 2
        ), topn AS (
            SELECT cluster_id, neighborhood,
                   ROW_NUMBER() OVER (
                       PARTITION BY cluster_id
                       ORDER BY cnt DESC, neighborhood
                   ) AS rn
            FROM prof
        )
        SELECT a.cluster_id,
               CAST(COUNT(*) AS BIGINT) AS size,
               ROUND(AVG(p.x), 4) AS centroid_lat,
               ROUND(AVG(p.y), 4) AS centroid_lon,
               MIN(t.neighborhood) AS top_neighborhood
        FROM assigned a
        JOIN pts p ON a.pid = p.pid
        JOIN topn t ON t.cluster_id = a.cluster_id AND t.rn = 1
        GROUP BY a.cluster_id
    """


@register(
    "cluster_geo_pipeline",
    oracle=_geo_oracle(),
    tags=("cluster", "geo", "M7", "M9", "J3", "composed"),
)
def cluster_geo_pipeline(spark, sf_dir):
    """AUDIT-TIER exact variant — the production entry is
    cluster_geo_pipeline_cellgrid (identical output contract, oracle-
    equal at sf1, corpus-size-independent plan). This exact eps-graph
    formulation densifies quadratically at fixed geography (~250s at
    sf1 since the r9 connected_components labeler swap, down from 530s;
    the cellgrid twin stays seconds) and is kept as the verification
    surface the scale path is proven against, not as the path users run.

    Jitter -> bbox-join -> DBSCAN -> profile, composed. Purchase
    events carry synthetic NYC coordinates (user_id lattice + exact
    integer-LCG jitter, both engines replay bit-for-bit); points inside
    a neighborhood bbox cluster with grid-DBSCAN; each cluster reports
    size, centroid, and its dominant neighborhood (deterministic mode:
    max count, ties alphabetical)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    jittered = ev.selectExpr("event_id", f"{_POINT_X} AS x", f"{_POINT_Y} AS y")
    # a point on the exact shared edge of two bboxes matches both —
    # MIN(neighborhood) keeps membership single-valued on both engines;
    # the static 8-bbox dim evaluates as a least/when expression, so
    # there is no join and no per-point exchange here (r13)
    located = jittered.withColumn(
        "neighborhood", F.expr(_min_bbox_neighborhood())
    ).filter(F.col("neighborhood").isNotNull())
    assigned = C.grid_dbscan(
        located, eps=_EPS, min_samples=_MIN_SAMPLES, id_col="event_id"
    ).filter(F.col("cluster_id") >= 0)
    clustered = assigned.join(located, "event_id")
    counts = clustered.groupBy("cluster_id", "neighborhood").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("cnt"), F.asc("neighborhood")
    )
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("neighborhood").alias("top_neighborhood"))
    )
    stats = clustered.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("size"),
        F.round(F.avg("x"), 4).alias("centroid_lat"),
        F.round(F.avg("y"), 4).alias("centroid_lon"),
    )
    return stats.join(F.broadcast(top), "cluster_id").select(
        "cluster_id", "size", "centroid_lat", "centroid_lon", "top_neighborhood"
    )


def _geohash_oracle() -> str:
    from ..functions.geohash import geohash_stages

    cx, cy, value, chars = geohash_stages()
    return f"""
        WITH pts AS (
            SELECT user_id,
                   40.60 + CAST(user_id % 37 AS DOUBLE) / 100.0 AS lat,
                   -74.00 + CAST(user_id % 23 AS DOUBLE) / 100.0 AS lon
            FROM events WHERE event_type = 'purchase'
        ), s1 AS (
            SELECT user_id, {cx} AS gh_cx, {cy} AS gh_cy FROM pts
        ), s2 AS (
            SELECT user_id, {value} AS gh_v FROM s1
        ), g AS (
            SELECT user_id, {chars} AS geohash FROM s2
        )
        SELECT geohash,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM g GROUP BY geohash
        ORDER BY n_events DESC, geohash LIMIT 20
    """


@register(
    "geo_geohash_rollup",
    oracle=_geohash_oracle(),
    tags=("geo", "geohash", "blocking"),
)
def geo_geohash_rollup(spark, sf_dir):
    """Geohash-6 hot-cell rollup over the purchase lattice: the encode
    is generated closed-form integer SQL (functions/geohash.py — bit
    interleave + base32, validated against the canonical u4pruydqqvj
    test vector), chained as three projections so each stage computes
    once and stays in whole-stage codegen. Geohash prefixes are the
    public-format spatial blocking key: a prefix equi-join replaces a
    quadratic distance join, exactly the eps-grid trick grid_dbscan
    uses, but exchangeable with external systems. One groupBy shuffle
    on the cell key; TakeOrdered top-20."""
    from ..functions.geohash import geohash_stages

    cx, cy, value, chars = geohash_stages()
    pts = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .selectExpr(
            "user_id",
            "40.60D + CAST(user_id % 37 AS DOUBLE) / 100.0D AS lat",
            "-74.00D + CAST(user_id % 23 AS DOUBLE) / 100.0D AS lon",
        )
    )
    g = (
        pts.withColumn("gh_cx", F.expr(cx))
        .withColumn("gh_cy", F.expr(cy))
        .withColumn("gh_v", F.expr(value))
        .withColumn("geohash", F.expr(chars))
    )
    return (
        g.groupBy("geohash")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.desc("n_events"), F.asc("geohash"))
        .limit(20)
    )


_CG_EPS = 0.05
_CG_KEY = 100000  # cell key = cx * _CG_KEY + cy (|cy| << _CG_KEY)
# core cell <=> weighted 8-neighborhood density >= 1.2x the mean
# (10*dens*C >= 12*9*N in exact integers). A relative threshold keeps
# the contract meaningful at ANY corpus density — an absolute min_pts
# saturates to one giant cluster as data grows on fixed geography.


def _cellgrid_oracle() -> str:
    jx, jy = jitter_sql("event_id", seed=7), jitter_sql("event_id", seed=8)
    return f"""
        WITH RECURSIVE rec AS (
            SELECT event_id,
                   40.60 + CAST(user_id % 37 AS DOUBLE) / 100.0 + ({jx}) AS x,
                   -74.00 + CAST(user_id % 23 AS DOUBLE) / 100.0 + ({jy}) AS y
            FROM events WHERE event_type = 'purchase'
        ), cells AS (
            SELECT CAST(FLOOR(x / {_CG_EPS}) AS BIGINT) AS cx,
                   CAST(FLOOR(y / {_CG_EPS}) AS BIGINT) AS cy,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM rec GROUP BY 1, 2
        ), dens AS (
            SELECT a.cx, a.cy, SUM(b.w) AS dens, COUNT(*) AS cnt
            FROM cells a JOIN cells b
              ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
            GROUP BY 1, 2
        ), tot AS (
            SELECT CAST(SUM(w) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS c
            FROM cells
        ), core AS (
            SELECT c.cx, c.cy, c.w, c.cx * {_CG_KEY} + c.cy AS k
            FROM cells c JOIN dens d ON d.cx = c.cx AND d.cy = c.cy
            WHERE 10 * d.dens * (SELECT c FROM tot)
                  >= 12 * d.cnt * (SELECT n FROM tot)
        ), cedges AS (
            SELECT a.k, b.k AS qk FROM core a JOIN core b
              ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
        ), walk(node, comp) AS (
            SELECT k, k FROM core
            UNION
            SELECT ce.qk, w.comp FROM walk w JOIN cedges ce ON ce.k = w.node
            WHERE w.comp < ce.qk
        ), clabel AS (
            SELECT node AS k, MIN(comp) AS cid FROM walk GROUP BY node
        ), border AS (
            SELECT c.cx, c.cy, c.w, MIN(cl.cid) AS cid
            FROM cells c
            JOIN core co ON abs(c.cx - co.cx) <= 1 AND abs(c.cy - co.cy) <= 1
            JOIN clabel cl ON cl.k = co.k
            WHERE c.cx * {_CG_KEY} + c.cy NOT IN (SELECT k FROM core)
            GROUP BY 1, 2, 3
        ), assigned AS (
            SELECT co.cx, co.cy, co.w, cl.cid
            FROM core co JOIN clabel cl ON cl.k = co.k
            UNION ALL SELECT cx, cy, w, cid FROM border
            UNION ALL
            SELECT c.cx, c.cy, c.w, -1 AS cid
            FROM cells c
            WHERE c.cx * {_CG_KEY} + c.cy NOT IN (
                SELECT co.cx * {_CG_KEY} + co.cy FROM core co
                UNION ALL SELECT b.cx * {_CG_KEY} + b.cy FROM border b)
        )
        SELECT cid AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(w) AS BIGINT) AS n_points,
               CAST(MIN(cx) AS BIGINT) AS min_cx,
               CAST(MAX(cx) AS BIGINT) AS max_cx,
               CAST(MIN(cy) AS BIGINT) AS min_cy,
               CAST(MAX(cy) AS BIGINT) AS max_cy
        FROM assigned GROUP BY cid
    """


@register(
    "cluster_geo_cellgrid",
    oracle=_cellgrid_oracle(),
    tags=("cluster", "geo", "M7", "scale-path", "composed"),
)
def cluster_geo_cellgrid(spark, sf_dir):
    """The PRODUCTION scale path for geographic density clustering —
    the mitigation for cluster_geo_pipeline's sf1 slow tail (651.8s:
    the exact eps-graph densifies quadratically at fixed geography).
    Points pre-aggregate into eps-grid micro-cells (count per cell),
    density = weighted 8-neighborhood sum, core cells
    cluster by grid adjacency, border cells attach to the min-labeled
    core neighbor. Every join and CC iteration is keyed by CELL, and
    the cell count is bounded by geography/eps^2 — corpus-size
    INDEPENDENT, so the plan is identical at 100x the points while the
    exact variant's edge list grows with density squared. The exact
    DBSCAN stays as the verification surface; this is what a recurring
    100 TB job runs. Contract is integer-pure (cell keys, counts,
    bounding boxes) — no float summation order anywhere."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    pts = ev.selectExpr(f"{_POINT_X} AS x", f"{_POINT_Y} AS y")
    cells = (
        pts.select(
            F.floor(F.col("x") / _CG_EPS).cast("long").alias("cx"),
            F.floor(F.col("y") / _CG_EPS).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("w"))
    )
    assigned = C.cellgrid_assign(cells, key_mult=_CG_KEY)
    return assigned.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("w").cast("long").alias("n_points"),
        F.min("cx").cast("long").alias("min_cx"),
        F.max("cx").cast("long").alias("max_cx"),
        F.min("cy").cast("long").alias("min_cy"),
        F.max("cy").cast("long").alias("max_cy"),
    )


def _cellgrid_pipeline_oracle() -> str:
    jx, jy = jitter_sql("event_id", seed=7), jitter_sql("event_id", seed=8)
    nbhd_values = """
            SELECT * FROM (VALUES
                ('Astoria',40.756,40.786,-73.945,-73.905),
                ('Williamsburg',40.697,40.725,-73.972,-73.935),
                ('Bushwick',40.683,40.709,-73.945,-73.895),
                ('Harlem',40.797,40.835,-73.965,-73.920),
                ('East Village',40.721,40.734,-73.995,-73.972),
                ('Riverdale',40.880,40.915,-73.930,-73.890),
                ('Flushing',40.745,40.775,-73.845,-73.800),
                ('St. George',40.635,40.650,-74.090,-74.065))
                t(neighborhood, lat_min, lat_max, lon_min, lon_max)
    """
    return f"""
        WITH RECURSIVE rec AS (
            SELECT event_id,
                   40.60 + CAST(user_id % 37 AS DOUBLE) / 100.0 + ({jx}) AS x,
                   -74.00 + CAST(user_id % 23 AS DOUBLE) / 100.0 + ({jy}) AS y
            FROM events WHERE event_type = 'purchase'
        ), nbhd AS ({nbhd_values}
        ), pts AS (
            SELECT r.event_id, r.x, r.y, MIN(n.neighborhood) AS neighborhood
            FROM rec r JOIN nbhd n
              ON r.x >= n.lat_min AND r.x <= n.lat_max
             AND r.y >= n.lon_min AND r.y <= n.lon_max
            GROUP BY 1, 2, 3
        ), pc AS (
            SELECT CAST(FLOOR(x / {_CG_EPS}) AS BIGINT) AS cx,
                   CAST(FLOOR(y / {_CG_EPS}) AS BIGINT) AS cy,
                   neighborhood
            FROM pts
        ), cells AS (
            SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS w FROM pc GROUP BY 1, 2
        ), cnb AS (
            SELECT cx, cy, neighborhood, CAST(COUNT(*) AS BIGINT) AS nw
            FROM pc GROUP BY 1, 2, 3
        ), dens AS (
            SELECT a.cx, a.cy, SUM(b.w) AS dens, COUNT(*) AS cnt
            FROM cells a JOIN cells b
              ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
            GROUP BY 1, 2
        ), tot AS (
            SELECT CAST(SUM(w) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS c
            FROM cells
        ), core AS (
            SELECT c.cx, c.cy, c.w, c.cx * {_CG_KEY} + c.cy AS k
            FROM cells c JOIN dens d ON d.cx = c.cx AND d.cy = c.cy
            WHERE 10 * d.dens * (SELECT c FROM tot)
                  >= 12 * d.cnt * (SELECT n FROM tot)
        ), cedges AS (
            SELECT a.k, b.k AS qk FROM core a JOIN core b
              ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
        ), walk(node, comp) AS (
            SELECT k, k FROM core
            UNION
            SELECT ce.qk, w.comp FROM walk w JOIN cedges ce ON ce.k = w.node
            WHERE w.comp < ce.qk
        ), clabel AS (
            SELECT node AS k, MIN(comp) AS cid FROM walk GROUP BY node
        ), border AS (
            SELECT c.cx, c.cy, c.w, MIN(cl.cid) AS cid
            FROM cells c
            JOIN core co ON abs(c.cx - co.cx) <= 1 AND abs(c.cy - co.cy) <= 1
            JOIN clabel cl ON cl.k = co.k
            WHERE c.cx * {_CG_KEY} + c.cy NOT IN (SELECT k FROM core)
            GROUP BY 1, 2, 3
        ), assigned AS (
            SELECT co.cx, co.cy, co.w, cl.cid
            FROM core co JOIN clabel cl ON cl.k = co.k
            UNION ALL SELECT cx, cy, w, cid FROM border
            UNION ALL
            SELECT c.cx, c.cy, c.w, -1 AS cid
            FROM cells c
            WHERE c.cx * {_CG_KEY} + c.cy NOT IN (
                SELECT co.cx * {_CG_KEY} + co.cy FROM core co
                UNION ALL SELECT b.cx * {_CG_KEY} + b.cy FROM border b)
        ), prof AS (
            SELECT a.cid, nb.neighborhood, SUM(nb.nw) AS cnt
            FROM assigned a JOIN cnb nb ON nb.cx = a.cx AND nb.cy = a.cy
            GROUP BY 1, 2
        ), topn AS (
            SELECT cid, neighborhood,
                   ROW_NUMBER() OVER (
                       PARTITION BY cid ORDER BY cnt DESC, neighborhood
                   ) AS rn
            FROM prof
        )
        SELECT a.cid AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(a.w) AS BIGINT) AS n_points,
               MIN(t.neighborhood) AS top_neighborhood,
               CAST(MIN(a.cx) AS BIGINT) AS min_cx,
               CAST(MAX(a.cx) AS BIGINT) AS max_cx,
               CAST(MIN(a.cy) AS BIGINT) AS min_cy,
               CAST(MAX(a.cy) AS BIGINT) AS max_cy
        FROM assigned a
        JOIN topn t ON t.cid = a.cid AND t.rn = 1
        GROUP BY a.cid
    """


@register(
    "cluster_geo_pipeline_cellgrid",
    oracle=_cellgrid_pipeline_oracle(),
    tags=("cluster", "geo", "M7", "M9", "J3", "scale-path", "composed"),
    bench=True,
)
def cluster_geo_pipeline_cellgrid(spark, sf_dir):
    """The composed flagship on the PRODUCTION scale path: seeded
    jitter -> bbox neighborhood join -> cell-grid density clustering ->
    per-cluster profile with the dominant neighborhood. Same
    composition users run via cluster_geo_pipeline, but the clustering
    stage is cellgrid_assign (eps-grid micro-cells, relative-density
    core rule, cell-keyed CC) — corpus-size-independent where the exact
    eps-graph's edge list grows with density squared (651.8s vs 11.3s
    at sf1, r5 audit). Profile stays integer-pure (cell counts, point
    counts, integer bounding box) plus the deterministic dominant
    neighborhood (max per-cluster point count, ties alphabetical)."""
    ev = table(spark, sf_dir, "events")
    # bbox containment as a pure expression (no join, no per-point
    # exchange — see _min_bbox_neighborhood); cnb is the ONLY
    # corpus-sized aggregation (map-side combinable), and cells derives
    # from the cell-sized cnb instead of re-aggregating the points, so
    # the corpus crosses exactly one exchange in this whole query (r13;
    # before: bbox groupBy + two point-level groupBys over a
    # point-level checkpoint)
    cnb = spark.sql(
        f"""
        SELECT cx, cy, neighborhood, CAST(count(*) AS BIGINT) AS nw
        FROM (
            SELECT CAST(floor(x / {dlit(_CG_EPS)}) AS BIGINT) AS cx,
                   CAST(floor(y / {dlit(_CG_EPS)}) AS BIGINT) AS cy,
                   neighborhood
            FROM (
                SELECT x, y, {_min_bbox_neighborhood()} AS neighborhood
                FROM (SELECT {_POINT_X} AS x, {_POINT_Y} AS y
                      FROM {{ev}} WHERE event_type = 'purchase')
            )
            WHERE neighborhood IS NOT NULL
        )
        GROUP BY cx, cy, neighborhood""",
        ev=ev,
    ).localCheckpoint(eager=False)  # cell-sized; feeds cells AND prof
    cells = spark.sql(
        "SELECT cx, cy, CAST(sum(nw) AS BIGINT) AS w FROM {cnb} GROUP BY cx, cy",
        cnb=cnb,
    )
    # cellgrid_assign returns a LocalRelation (r13 driver-side cell
    # cascade) — both consumers (profile join, stats rollup) re-read it
    # for free, so the previous two-consumer localCheckpoint would only
    # add an RDD conversion
    assigned = C.cellgrid_assign(cells, key_mult=_CG_KEY)
    # dominant neighborhood: max per-cluster point count, ties
    # alphabetical
    return spark.sql(
        """
        WITH prof AS (
            SELECT a.cid, c.neighborhood, sum(c.nw) AS cnt
            FROM {assigned} a JOIN {cnb} c ON a.cx = c.cx AND a.cy = c.cy
            GROUP BY a.cid, c.neighborhood
        ), top AS (
            SELECT cid, neighborhood AS top_neighborhood
            FROM (SELECT cid, neighborhood,
                         row_number() OVER (PARTITION BY cid
                                            ORDER BY cnt DESC, neighborhood ASC) AS rn
                  FROM prof)
            WHERE rn = 1
        )
        SELECT /*+ BROADCAST(t) */ s.cid AS cluster_id, s.n_cells, s.n_points,
               t.top_neighborhood, s.min_cx, s.max_cx, s.min_cy, s.max_cy
        FROM (
            SELECT cid,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(sum(w) AS BIGINT) AS n_points,
                   CAST(min(cx) AS BIGINT) AS min_cx,
                   CAST(max(cx) AS BIGINT) AS max_cx,
                   CAST(min(cy) AS BIGINT) AS min_cy,
                   CAST(max(cy) AS BIGINT) AS max_cy
            FROM {assigned} GROUP BY cid
        ) s
        JOIN top t ON s.cid = t.cid""",
        assigned=assigned,
        cnb=cnb,
    )
