"""Mergeable-sketch maintenance and rolling robust statistics: the
Datasketches HLL partial-merge path (the sketch analog of
agg_incremental_merge's exact partial algebra) and an exact rolling
median.

Scale notes: hll_sketch_agg produces a FIXED-SIZE mergeable state per
group — the property that lets a 100 TB pipeline maintain distinct
counts per day and union them into arbitrary ranges without ever
re-scanning raw keys (re-aggregable distincts, which plain
approx_count_distinct cannot do across pre-aggregated partitions).
The rolling median is a 7-row frame over the pre-aggregated daily
series: per-frame sort of <= 7 values, no corpus-side cost.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import table


@register(
    "agg_hll_partial_merge",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS merge_within_5pct,
               TRUE AS estimate_within_5pct
        FROM events GROUP BY event_type
    """,
    tags=("sketch", "hll", "incremental"),
)
def agg_hll_partial_merge(spark, sf_dir):
    """Re-aggregable distinct counting: build one HLL sketch per
    (event_type, day) partial, union the partials per type, and
    estimate — next to the direct whole-column sketch estimate and the
    exact distinct. BOTH estimates must sit inside the 5% band around
    the exact count (floored at 1 for tiny groups). The contract is
    deliberately a tolerance, not bit-equality of merged vs direct:
    the sf0.1 sweep caught that once sketches leave sparse mode the
    union's dense register state can estimate a few counts off the
    direct sketch (merged 1496 vs direct 1500 at 1500 users) — both
    legal HLL behavior, both within spec. Datasketches state has no
    DuckDB twin, so the row is self-verifying: the oracle-able exact
    count plus the contract booleans pinned TRUE; a sketch/merge
    regression flips the row red. Raw estimates stay pinned in
    tests/test_basket.py."""
    e = table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    partials = e.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = partials.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_estimate")
    )
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_estimate"),
        F.countDistinct("user_id").cast("long").alias("exact_users"),
    )
    tol = F.greatest(F.lit(1.0), 0.05 * F.col("exact_users"))
    return merged.join(direct, "event_type").select(
        "event_type",
        "exact_users",
        (F.abs(F.col("merged_estimate") - F.col("exact_users")) <= tol).alias(
            "merge_within_5pct"
        ),
        (F.abs(F.col("direct_estimate") - F.col("exact_users")) <= tol).alias(
            "estimate_within_5pct"
        ),
    )


@register(
    "win_rolling_median",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
               median(cnt) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS med7
        FROM s
    """,
    tags=("window", "median", "robust"),
)
def win_rolling_median(spark, sf_dir):
    """Exact rolling 7-observation median of the daily volume per type
    — the robust companion to win_rolling_7d's mean (a single spike
    day moves the mean, not the median). Spark has no windowed median,
    so the frame is collected (<= 7 values) and the median computed
    with array_sort + middle element(s), interpolating even frames
    exactly like DuckDB's quantile_cont(0.5): integer counts make the
    half-interpolated values exactly representable, so both engines
    emit identical doubles."""
    e = table(spark, sf_dir, "events")
    s = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    arr = F.array_sort(F.collect_list("cnt").over(w))
    n = F.size(arr)
    med = F.when(
        n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int")).cast("double")
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2).cast("int") + 1)
        )
        / 2.0
    )
    return s.select(
        "event_type",
        "day",
        F.col("cnt").cast("long").alias("cnt"),
        med.alias("med7"),
    )


@register(
    "win_anomaly_mad",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ), fr AS (
            SELECT event_type, day, cnt,
                   list_sort(list(cnt) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)) AS arr
            FROM s
        ), med AS (
            SELECT *, len(arr) AS n,
                   CASE WHEN len(arr) = 0 THEN NULL
                        WHEN len(arr) % 2 = 1 THEN CAST(arr[(len(arr)+1)//2] AS DOUBLE)
                        ELSE (arr[len(arr)//2] + arr[len(arr)//2 + 1]) / 2.0
                   END AS m
            FROM fr
        ), dev AS (
            SELECT *, list_sort(list_transform(arr, x -> abs(x - m))) AS darr
            FROM med
        ), mad AS (
            SELECT *,
                   CASE WHEN n = 0 THEN NULL
                        WHEN n % 2 = 1 THEN CAST(darr[(n+1)//2] AS DOUBLE)
                        ELSE (darr[n//2] + darr[n//2 + 1]) / 2.0
                   END AS md
            FROM dev
        )
        SELECT event_type, day, cnt,
               ROUND(m, 4) AS frame_median,
               ROUND(md, 4) AS frame_mad,
               ROUND(CASE WHEN md IS NULL OR md = 0 THEN 0.0
                          ELSE (cnt - m) / (1.4826 * md) END, 4) AS robust_z,
               CASE WHEN md IS NOT NULL AND md > 0
                    THEN abs((cnt - m) / (1.4826 * md)) > 3.5
                    ELSE FALSE END AS is_anomaly
        FROM mad
    """,
    tags=("window", "anomaly", "robust", "M13"),
)
def win_anomaly_mad(spark, sf_dir):
    """Robust anomaly detection: rolling 14-day median/MAD (prior days
    only) and the 1.4826-scaled robust z — the outlier-resistant
    companion to win_anomaly_zscore (one anomalous day poisons a mean/
    std baseline but not a median/MAD one). The frame median and MAD
    use the identical sorted-array even/odd formula on BOTH engines, so
    parity is exact. Frames hold <= 14 values of the pre-aggregated
    daily series; raw facts never reach the window."""
    from pyspark.sql import Window

    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-14, -1)
    )
    arr = F.sort_array(F.collect_list("cnt").over(w))
    n = F.size(arr)

    def list_median(sorted_arr, size):
        odd = F.element_at(sorted_arr, ((size + 1) / 2).cast("int")).cast("double")
        even = (
            F.element_at(sorted_arr, (size / 2).cast("int"))
            + F.element_at(sorted_arr, (size / 2 + 1).cast("int"))
        ) / 2.0
        return F.when(size == 0, F.lit(None)).when(size % 2 == 1, odd).otherwise(even)

    fr = daily.select("event_type", "day", "cnt", arr.alias("arr"), n.alias("n"))
    fr = fr.withColumn("m", list_median(F.col("arr"), F.col("n")))
    darr = F.sort_array(F.transform("arr", lambda x: F.abs(x - F.col("m"))))
    fr = fr.withColumn("md", list_median(darr, F.col("n")))
    rz = F.when(
        F.col("md").isNull() | (F.col("md") == 0), F.lit(0.0)
    ).otherwise((F.col("cnt") - F.col("m")) / (1.4826 * F.col("md")))
    return fr.select(
        "event_type",
        "day",
        "cnt",
        F.round("m", 4).alias("frame_median"),
        F.round("md", 4).alias("frame_mad"),
        F.round(rz, 4).alias("robust_z"),
        F.when(
            F.col("md").isNotNull() & (F.col("md") > 0), F.abs(rz) > 3.5
        ).otherwise(F.lit(False)).alias("is_anomaly"),
    )


@register(
    "sketch_cms_user_counts",
    oracle="""
        WITH items AS (
            SELECT CAST(user_id AS VARCHAR) AS item FROM events
        ), depths AS (
            SELECT CAST(unnest(range(4)) AS INTEGER) AS d
        ), b AS (
            SELECT item, d,
                   CAST(('0x' || substr(md5('cms:' || d || ':' || item),
                                        1, 15)) AS BIGINT) % 32 AS bucket
            FROM items CROSS JOIN depths
        ), cms AS (
            SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM b GROUP BY 1, 2
        ), exact AS (
            SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM items GROUP BY 1
        ), qb AS (
            SELECT e.item, e.exact_cnt, d.d,
                   CAST(('0x' || substr(md5('cms:' || d.d || ':' || e.item),
                                        1, 15)) AS BIGINT) % 32 AS bucket
            FROM exact e CROSS JOIN depths d
        ), est AS (
            SELECT item, exact_cnt,
                   CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_est
            FROM qb LEFT JOIN cms c USING (d, bucket)
            GROUP BY 1, 2
        )
        SELECT item AS user_key, exact_cnt, cms_est,
               CAST(cms_est - exact_cnt AS BIGINT) AS overestimate,
               cms_est >= exact_cnt AS never_undercounts
        FROM est
    """,
    tags=("sketch", "cms", "mergeable", "oracle-replayable"),
)
def sketch_cms_user_counts(spark, sf_dir):
    """Count-min sketch, end-to-end and exactly oracle-checked: build a
    depth-4 x width-32 sketch over events.user_id (md5-derived bucket
    family — DuckDB replays it bit-for-bit), then point-query every
    distinct user against it. Width 32 << distinct users forces real
    collisions, so the row set also witnesses the CMS one-sided-error
    guarantee (never_undercounts pinned by construction).

    Mergeability is the groupBy(d, bucket).sum algebra of cms_table —
    tested with a split/merge identity in tests/test_basket.py's
    sketch suite. At 100 TB the shuffle carries depth x width partials
    per task, never raw keys."""
    from ..operators.sketches import cms_estimates, cms_table

    e = table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_key")
    )
    cms = cms_table(e)
    exact = e.groupBy("user_key").agg(F.count("*").cast("long").alias("exact_cnt"))
    est = cms_estimates(exact.select("user_key"), cms)
    return exact.join(est, "user_key").select(
        "user_key",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overestimate"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("never_undercounts"),
    )


_HQ_BINS = 32
_HQ_QS = (0.5, 0.9, 0.99)


@register(
    "sketch_histogram_quantiles",
    oracle=f"""
        WITH mm AS (
            SELECT event_type, MIN(value) AS lo, MAX(value) AS hi,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ), binned AS (
            SELECT e.event_type,
                   CAST(LEAST(FLOOR((e.value - m.lo) /
                                    ((m.hi - m.lo) / {_HQ_BINS})),
                              {_HQ_BINS - 1}) AS BIGINT) AS bin
            FROM events e JOIN mm m USING (event_type)
        ), hist AS (
            SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM binned GROUP BY 1, 2
        ), cum AS (
            SELECT event_type, bin, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
            FROM hist
        ), qs AS (
            -- CAST: bare decimal literals make q DECIMAL, which the
            -- driver comparator does not unify with Spark DOUBLE
            SELECT CAST(unnest([{", ".join(str(q) for q in _HQ_QS)}])
                        AS DOUBLE) AS q
        ), cand AS (
            SELECT c.event_type, s.q, c.bin, c.cnt, c.cum,
                   c.cum - c.cnt AS prev_cum,
                   m.lo, (m.hi - m.lo) / {_HQ_BINS} AS width, m.n
            FROM cum c JOIN mm m USING (event_type) CROSS JOIN qs s
            WHERE c.cum >= s.q * m.n
        ), first_bin AS (
            SELECT * FROM cand
            QUALIFY row_number() OVER (
                PARTITION BY event_type, q ORDER BY bin) = 1
        )
        SELECT f.event_type, f.q,
               ROUND(f.lo + f.width *
                     (f.bin + (f.q * f.n - f.prev_cum) / f.cnt), 6)
                   AS est_quantile,
               ROUND(x.ex, 6) AS exact_quantile,
               -- difference of the ROUNDED values: each engine's unrounded
               -- est/exact wobble in the last float bits, and the raw
               -- difference can round differently at 1e-6 boundaries
               ROUND(ABS(ROUND(f.lo + f.width *
                               (f.bin + (f.q * f.n - f.prev_cum) / f.cnt), 6)
                         - ROUND(x.ex, 6)), 6) AS abs_err,
               ROUND(f.width, 6) AS bin_width
        FROM first_bin f
        JOIN (
            SELECT event_type, CAST(0.5 AS DOUBLE) AS q, quantile_cont(value, 0.5) AS ex
            FROM events GROUP BY 1
            UNION ALL
            SELECT event_type, CAST(0.9 AS DOUBLE) AS q, quantile_cont(value, 0.9) AS ex
            FROM events GROUP BY 1
            UNION ALL
            SELECT event_type, CAST(0.99 AS DOUBLE) AS q, quantile_cont(value, 0.99) AS ex
            FROM events GROUP BY 1) x
          USING (event_type, q)
    """,
    tags=("sketch", "quantile", "mergeable"),
)
def sketch_histogram_quantiles(spark, sf_dir):
    """Mergeable quantile sketch: a fixed 32-bin histogram of
    events.value per type (bin counts merge by summation — the
    re-aggregable partial that answers any later quantile query without
    raw re-scan), with p50/p90/p99 estimated by linear interpolation
    inside the crossing bin, next to the exact percentile_cont and the
    bin-width error budget. The DuckDB oracle replays the estimator
    formula exactly, so the row is value-checked, not toleranced.

    Scale: pass 1 is a per-type min/max/count (map-side partials to a
    handful of rows); pass 2 shuffles at most types x bins partials.
    Nothing retains raw values — that is the point of the sketch."""
    e = table(spark, sf_dir, "events")
    mm = e.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("*").cast("long").alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / _HQ_BINS
    binned = e.join(F.broadcast(mm), "event_type").select(
        "event_type",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / width),
            F.lit(_HQ_BINS - 1),
        ).cast("long").alias("bin"),
    )
    hist = binned.groupBy("event_type", "bin").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wc = Window.partitionBy("event_type").orderBy("bin")
    cum = hist.withColumn("cum", F.sum("cnt").over(wc))
    qs = F.explode(F.array(*[F.lit(q) for q in _HQ_QS])).alias("q")
    cand = (
        cum.join(F.broadcast(mm), "event_type")
        .select(
            "event_type", "bin", "cnt", "cum",
            (F.col("cum") - F.col("cnt")).alias("prev_cum"),
            "lo", ((F.col("hi") - F.col("lo")) / _HQ_BINS).alias("width"), "n", qs,
        )
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
    )
    wq = Window.partitionBy("event_type", "q").orderBy("bin")
    first_bin = cand.withColumn("rn", F.row_number().over(wq)).filter(F.col("rn") == 1)
    est = F.col("lo") + F.col("width") * (
        F.col("bin") + (F.col("q") * F.col("n") - F.col("prev_cum")) / F.col("cnt")
    )
    exact = None
    for q in _HQ_QS:
        part = e.groupBy("event_type").agg(
            F.expr(f"percentile(value, {q})").alias("ex")
        ).withColumn("q", F.lit(q))
        exact = part if exact is None else exact.unionByName(part)
    return first_bin.join(exact, ["event_type", "q"]).select(
        "event_type",
        "q",
        F.round(est, 6).alias("est_quantile"),
        F.round(F.col("ex"), 6).alias("exact_quantile"),
        F.round(F.abs(F.round(est, 6) - F.round(F.col("ex"), 6)), 6).alias("abs_err"),
        F.round(F.col("width"), 6).alias("bin_width"),
    )


_THETA_K = 64
_THETA_SCALE = 1 << 60  # deviate range (operators/sampling.py)


def _theta_oracle() -> str:
    from ..operators.sampling import deviate_sql

    dev = deviate_sql("user_id", "theta")
    k, scale = _THETA_K, _THETA_SCALE
    kf = f"{float(k - 1) * scale:.1f}"  # (k-1)*2^60, exact in double
    return f"""
        WITH dv AS (SELECT DISTINCT event_type, user_id FROM events),
        dd AS (SELECT event_type, user_id, {dev} AS d FROM dv),
        rk AS (SELECT event_type, user_id, d,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY d, user_id) AS rn
               FROM dd),
        st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
                      COALESCE(MAX(CASE WHEN rn = {k} THEN d END), {scale})
                          AS theta
               FROM rk GROUP BY 1),
        pdv AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
                FROM events),
        pdd AS (SELECT event_type, day, user_id, {dev} AS d FROM pdv),
        prk AS (SELECT event_type, day, user_id, d,
                       ROW_NUMBER() OVER (PARTITION BY event_type, day
                                          ORDER BY d, user_id) AS prn
                FROM pdd),
        pk AS (SELECT DISTINCT event_type, user_id, d
               FROM prk WHERE prn <= {k}),
        mrk AS (SELECT event_type, user_id, d,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY d, user_id) AS mrn
                FROM pk),
        mst AS (SELECT event_type,
                       COALESCE(MAX(CASE WHEN mrn = {k} THEN d END), {scale})
                           AS mtheta
                FROM mrk GROUP BY 1),
        stats AS (SELECT st.event_type, st.n_users, st.theta,
                         (st.theta = mst.mtheta) AS merge_exact
                  FROM st JOIN mst USING (event_type)),
        ret AS (SELECT r.event_type, r.user_id, r.d
                FROM rk r JOIN stats s USING (event_type)
                WHERE r.d < s.theta),
        spine AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                         a.n_users AS n_a, b.n_users AS n_b,
                         a.theta AS theta_a, b.theta AS theta_b,
                         a.merge_exact AS merge_exact_a,
                         LEAST(a.theta, b.theta) AS theta_ab
                  FROM stats a JOIN stats b ON a.event_type <> b.event_type),
        diffs AS (SELECT s.type_a, s.type_b, CAST(COUNT(*) AS BIGINT)
                             AS diff_cnt
                  FROM spine s
                  JOIN ret r ON r.event_type = s.type_a AND r.d < s.theta_ab
                  LEFT JOIN ret rb ON rb.event_type = s.type_b
                                  AND rb.user_id = r.user_id
                  WHERE rb.user_id IS NULL
                  GROUP BY 1, 2)
        SELECT s.type_a, s.type_b,
               ROUND(CASE WHEN s.n_a >= {k} THEN {kf} / s.theta_a
                          ELSE CAST(s.n_a AS DOUBLE) END, 4) AS est_users_a,
               ROUND(CASE WHEN s.n_b >= {k} THEN {kf} / s.theta_b
                          ELSE CAST(s.n_b AS DOUBLE) END, 4) AS est_users_b,
               ROUND(COALESCE(d.diff_cnt, 0) * {scale}.0 / s.theta_ab, 4)
                   AS est_a_not_b,
               s.merge_exact_a
        FROM spine s LEFT JOIN diffs d
          ON d.type_a = s.type_a AND d.type_b = s.type_b
    """


@register(
    "win_theta_sketch_partial",
    oracle=_theta_oracle(),
    tags=("sketch", "theta", "kmv", "set-difference", "training-data"),
)
def win_theta_sketch_partial(spark, sf_dir):
    """Mergeable KMV theta-sketch distinct partials WITH set-difference
    (the capability agg_hll_partial_merge's HLL cannot offer: HLL
    unions but never subtracts). The sketch of a user set is its k=64
    smallest md5 deviates; theta = the k-th smallest (2^60 when the
    set is smaller than k, i.e. exact mode); est = (k-1)*2^60/theta.
    Because the k smallest of a union equal the k smallest of the
    per-day k-smallest partials, the partial-merge path is EXACTLY the
    direct sketch — `merge_exact_a` pins that equality per type (a
    real KMV-algebra assertion, not a tolerance). Set difference a\\b
    uses the theta-sketch a-not-b rule: under theta_ab =
    min(theta_a, theta_b), a retained sample of A is in B iff it is in
    B's retained sample set (exact, since d < theta_ab <= theta_b), so
    the 20 pairwise difference estimates touch ONLY sketch rows (<= 63
    per type), never the raw sets. Everything is md5-deterministic, so
    the DuckDB oracle replays estimates bit-for-bit — no tolerance
    band anywhere.

    Scale shape: the production path is the partial one — per
    (type, day) groups are bounded, partials are <= k rows each, and
    merging is a rank over sketch-sized unions; the direct whole-set
    rank (a 5-partition window over distinct users) is the
    verification twin that makes merge_exact a two-sided proof, the
    same audit-twin pattern as the DBSCAN cellgrid rows. The per-type
    summary (one row per type) and the retained samples (<= k-1 rows
    per type) are bounded BY CONSTRUCTION — that is the KMV promise —
    so they cross the control plane once (the lloyd_kmeans_nd
    k-centroid idiom); the pairwise set-difference math then touches
    only literal dims and the checkpointed sketch rows."""
    from ..operators.sampling import hash_deviate

    k = _THETA_K
    ev = table(spark, sf_dir, "events")
    dv = (
        ev.select("event_type", "user_id")
        .distinct()
        .withColumn("d", hash_deviate(F.col("user_id"), "theta"))
    )
    wr = Window.partitionBy("event_type").orderBy("d", "user_id")
    rk = dv.withColumn("rn", F.row_number().over(wr))
    st = rk.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.coalesce(
            F.max(F.when(F.col("rn") == k, F.col("d"))), F.lit(_THETA_SCALE)
        ).alias("theta"),
    )
    pdv = (
        ev.select("event_type", F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .withColumn("d", hash_deviate(F.col("user_id"), "theta"))
    )
    wp = Window.partitionBy("event_type", "day").orderBy("d", "user_id")
    pk = (
        pdv.withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= k)
        .select("event_type", "user_id", "d")
        .distinct()
    )
    wm = Window.partitionBy("event_type").orderBy("d", "user_id")
    mst = (
        pk.withColumn("mrn", F.row_number().over(wm))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("mrn") == k, F.col("d"))),
                F.lit(_THETA_SCALE),
            ).alias("mtheta")
        )
    )
    # the sketch summary IS bounded by construction (one row per type):
    # collect it once — lloyd_kmeans_nd's k-centroid contract — so the
    # six downstream consumers read a literal dim instead of re-planning
    # the whole distinct+window subtree each (35 static Exchange nodes
    # in the fully-lazy form)
    srows = sorted(
        st.join(mst, "event_type").collect(), key=lambda r: r["event_type"]
    )
    spine_rows = [
        (
            ra["event_type"],
            rb["event_type"],
            ra["n_users"],
            rb["n_users"],
            ra["theta"],
            rb["theta"],
            min(ra["theta"], rb["theta"]),
            ra["theta"] == ra["mtheta"],
        )
        for ra in srows
        for rb in srows
        if ra["event_type"] != rb["event_type"]
    ]
    spine = spark.createDataFrame(
        spine_rows,
        "type_a string, type_b string, n_a long, n_b long, theta_a long,"
        " theta_b long, theta_ab long, merge_exact_a boolean",
    )
    theta_dim = spark.createDataFrame(
        [(r["event_type"], r["theta"]) for r in srows],
        "event_type string, theta long",
    )
    # retained samples: <= k-1 rows per type (the sketch itself);
    # eager-checkpointed because two consumers (candidates + the
    # membership side) would otherwise re-run the global rank twice
    ret = (
        rk.join(F.broadcast(theta_dim), "event_type")
        .filter(F.col("d") < F.col("theta"))
        .select("event_type", "user_id", "d")
        .localCheckpoint(eager=True)
    )
    cand = (
        ret.withColumnRenamed("event_type", "type_a")
        .join(
            F.broadcast(spine.select("type_a", "type_b", "theta_ab")), "type_a"
        )
        .filter(F.col("d") < F.col("theta_ab"))
    )
    retb = ret.select(F.col("event_type").alias("type_b"), "user_id")
    diffs = (
        cand.join(F.broadcast(retb), ["type_b", "user_id"], "left_anti")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("diff_cnt"))
    )
    kf = F.lit(float(k - 1) * _THETA_SCALE)
    est_a = F.when(
        F.col("n_a") >= k, kf / F.col("theta_a")
    ).otherwise(F.col("n_a").cast("double"))
    est_b = F.when(
        F.col("n_b") >= k, kf / F.col("theta_b")
    ).otherwise(F.col("n_b").cast("double"))
    est_diff = (
        F.coalesce(F.col("diff_cnt"), F.lit(0)) * F.lit(float(_THETA_SCALE))
    ) / F.col("theta_ab")
    return spine.join(diffs, ["type_a", "type_b"], "left").select(
        "type_a",
        "type_b",
        F.round(est_a, 4).alias("est_users_a"),
        F.round(est_b, 4).alias("est_users_b"),
        F.round(est_diff, 4).alias("est_a_not_b"),
        "merge_exact_a",
    )


_BLOOM_BITS = 4096  # m: filter width (128 x 32-bit words in BIGINTs —
# 32, not 64, so no set bit ever needs 1<<63, which overflows DuckDB's
# checked BIGINT shift)
_BLOOM_HASHES = 3  # h: md5-derived positions per key
_BLOOM_WORD = 32


def _bloom_oracle() -> str:
    from ..operators.sampling import deviate_sql

    m, ws = _BLOOM_BITS, _BLOOM_WORD
    pos = [
        f"({deviate_sql('user_id', f'bloom{j}')} % {m})"
        for j in range(1, _BLOOM_HASHES + 1)
    ]
    mb = " UNION ALL ".join(f"SELECT {p} AS pos FROM mem" for p in pos)
    pb = " UNION ALL ".join(f"SELECT day, {p} AS pos FROM pmem" for p in pos)
    passes = " AND ".join(
        f"(d{j}.bits >> CAST(p.p{j} % {ws} AS INTEGER)) & 1 = 1"
        for j in range(1, _BLOOM_HASHES + 1)
    )
    djoins = " ".join(
        f"LEFT JOIN direct d{j} ON d{j}.word = p.p{j} // {ws}"
        for j in range(1, _BLOOM_HASHES + 1)
    )
    pcols = ", ".join(
        f"{p} AS p{j}" for j, p in enumerate(pos, start=1)
    )
    return f"""
        WITH mem AS (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        ), mb AS ({mb}
        ), direct AS (
            SELECT pos // {ws} AS word,
                   bit_or(1::BIGINT << CAST(pos % {ws} AS INTEGER)) AS bits
            FROM mb GROUP BY 1
        ), pmem AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events WHERE event_type = 'purchase'
        ), pb AS ({pb}
        ), pday AS (
            SELECT day, pos // {ws} AS word,
                   bit_or(1::BIGINT << CAST(pos % {ws} AS INTEGER)) AS bits
            FROM pb GROUP BY 1, 2
        ), merged AS (
            SELECT word, bit_or(bits) AS bits FROM pday GROUP BY 1
        ), mex AS (
            SELECT ((SELECT COUNT(*) FROM direct d JOIN merged m
                     ON d.word = m.word AND d.bits = m.bits)
                    = (SELECT COUNT(*) FROM direct))
               AND ((SELECT COUNT(*) FROM direct)
                    = (SELECT COUNT(*) FROM merged)) AS merge_exact
        ), pr AS (
            SELECT DISTINCT event_type, user_id
            FROM events WHERE event_type <> 'purchase'
        ), pp AS (
            SELECT event_type, user_id, {pcols} FROM pr
        ), chk AS (
            SELECT p.event_type,
                   CASE WHEN {passes} THEN 1 ELSE 0 END AS pass,
                   CASE WHEN m.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_m
            FROM pp p {djoins}
            LEFT JOIN mem m ON m.user_id = p.user_id
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_probe_users,
               CAST(SUM(pass) AS BIGINT) AS n_pass_filter,
               CAST(SUM(is_m) AS BIGINT) AS n_true_members,
               CAST(SUM(CASE WHEN pass = 1 AND is_m = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_positives,
               ROUND(CASE WHEN COUNT(*) - SUM(is_m) > 0 THEN
                     SUM(CASE WHEN pass = 1 AND is_m = 0 THEN 1 ELSE 0 END)
                     / (COUNT(*) - SUM(is_m)) END, 6) AS false_positive_rate,
               (SELECT merge_exact FROM mex) AS merge_exact
        FROM chk GROUP BY 1
    """


@register(
    "sketch_bloom_join_prune",
    oracle=_bloom_oracle(),
    tags=("sketch", "bloom", "join-prune", "training-data"),
)
def sketch_bloom_join_prune(spark, sf_dir):
    """Deterministic Bloom-filter semi-join pruning — the sketch behind
    Spark's own runtime bloom-filter join pushdown
    (spark.sql.optimizer.runtime.bloomFilter.enabled), rebuilt as an
    engine-checkable dataflow: build a 4096-bit / 3-hash filter over
    the purchase-user set, probe every other event type's distinct
    users through it, and profile exactly what a 100 TB prune would do
    — pass counts, true members, false positives, and the realized FPR
    per probe type. Bit positions are md5-derived (operators/sampling
    deviates mod m), so filter words, pass sets, and FPR replay
    bit-for-bit in the DuckDB oracle — no tolerance band.

    Mergeability is pinned the theta-sketch way: per-day partial
    filters OR-merge (bit_or is associative/commutative) into exactly
    the direct whole-set filter — `merge_exact` asserts 128-word
    equality, the property that lets partials build map-side at 100 TB
    and merge as 512-byte states. The built filter is bounded BY
    CONSTRUCTION (64 longs), so it crosses the control plane once and
    probes evaluate map-side against a literal array — scan ->
    project -> aggregate, no shuffle of the probe side beyond its
    distinct."""
    from ..operators.sampling import hash_deviate

    m, ws, h = _BLOOM_BITS, _BLOOM_WORD, _BLOOM_HASHES
    ev = table(spark, sf_dir, "events")
    pos_arr = F.array(
        *[
            (hash_deviate(F.col("user_id"), f"bloom{j}") % m)
            for j in range(1, h + 1)
        ]
    )
    mem = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    word = F.expr(f"pos div {ws}").alias("word")
    setbit = F.expr(f"bit_or(shiftleft(1L, cast(pos % {ws} as int)))").alias(
        "bits"
    )
    direct = (
        mem.select(F.explode(pos_arr).alias("pos")).groupBy(word).agg(setbit)
    )
    pmem = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    pday = (
        pmem.select("day", F.explode(pos_arr).alias("pos"))
        .groupBy("day", word)
        .agg(setbit)
    )
    merged = pday.groupBy("word").agg(F.expr("bit_or(bits)").alias("bits"))
    # the filter is m/32 = 128 words BY CONSTRUCTION -> control plane, once
    dwords = {r["word"]: r["bits"] for r in direct.collect()}
    mwords = {r["word"]: r["bits"] for r in merged.collect()}
    merge_exact = dwords == mwords
    flt = F.array(
        *[F.lit(int(dwords.get(w, 0))).cast("long") for w in range(m // ws)]
    )
    probes = (
        ev.filter(F.col("event_type") != "purchase")
        .select("event_type", "user_id")
        .distinct()
    )
    p = probes
    for j in range(1, h + 1):
        p = p.withColumn(
            f"p{j}", hash_deviate(F.col("user_id"), f"bloom{j}") % m
        )
    p = p.withColumn("flt", flt)
    passc = None
    for j in range(1, h + 1):
        c = F.expr(
            f"(shiftright(element_at(flt, cast(p{j} div {ws} as int) + 1),"
            f" cast(p{j} % {ws} as int)) & 1) = 1"
        )
        passc = c if passc is None else (passc & c)
    p = p.withColumn("pass", passc).join(
        mem.withColumn("is_m", F.lit(1)), "user_id", "left"
    )
    agg = p.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_probe_users"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass_filter"),
        F.sum(F.coalesce(F.col("is_m"), F.lit(0)))
        .cast("long")
        .alias("n_true_members"),
        F.sum(F.when(F.col("pass") & F.col("is_m").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_false_positives"),
    )
    denom = F.col("n_probe_users") - F.col("n_true_members")
    return agg.select(
        "event_type",
        "n_probe_users",
        "n_pass_filter",
        "n_true_members",
        "n_false_positives",
        F.round(
            F.when(denom > 0, F.col("n_false_positives") / denom), 6
        ).alias("false_positive_rate"),
        F.lit(bool(merge_exact)).alias("merge_exact"),
    )
