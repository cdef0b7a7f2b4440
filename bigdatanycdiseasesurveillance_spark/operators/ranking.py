"""Bucketed global ranking — the scale rewrite of single-partition
window functions (SURVEY §2.5 W-family, reference analogue: the global
ORDER BY rankings the reference computes driver-side in
`app_upgraded.py` dashboard queries).

`row_number() OVER (ORDER BY k)` and `SUM(x) OVER (ORDER BY k ROWS
UNBOUNDED PRECEDING)` plan as `Exchange SinglePartition` + `Window` —
every row of the input funnels through ONE task, which is the canonical
100 TB scale-killer (`WindowExec: No Partition Defined`). The rewrite,
proven value-identical to the naive form by the win_global_rank_ranged
/ cur_perplexity_buckets / dedup_cross_source_snm oracles:

1. bucket rows by a COARSE key that is a non-decreasing function of the
   leading sort key (day(ts), floor(value), nll*10 bands, id ranges);
2. aggregate one count/sum per bucket (a map-side-combinable shuffle on
   the bucket key);
3. prefix-sum the per-bucket totals into offsets;
4. broadcast the offsets back and add each row's LOCAL rank / running
   sum within its bucket (a window partitioned by the bucket key).

Equal to the single-partition form by construction: within a bucket the
local window applies the same total order, and the offset is exactly
the number of rows (sum of values) in all earlier buckets.

Step 3 runs on the CONTROL PLANE: the per-bucket totals are collected
(bucket cardinality is corpus-size independent — day/band/value-range
grain, capped loudly at 1M), prefix-summed in Python, and shipped back
as a broadcast literal dim. This is the same bounded-collect contract
as lloyd_kmeans_nd's k centroid rows and connected_components'
convergence probes, and it keeps the final plan free of ANY
unpartitioned WindowExec — the lazy alternative (a window over the
bucket-count frame, as cur_perplexity_buckets does in-plan) is equal in
value but leaves a bucket-frame global window in the plan and, when
chained (RFM ranks three dimensions back to back), re-plans the
upstream subtree once per consumer.

The bucket key contract: for ranks, `bucket` must be non-decreasing
along `order_cols`' total order (any coarsening of the leading key
qualifies — ties across a boundary are impossible because equal order
keys get equal bucket keys); for running sums, the same, with the sum
taken over the identical order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .bounded import bounded_collect

_B = "__rk_bucket"
_LOCAL = "__rk_local"
_OFF = "__rk_offset"

MAX_BUCKETS = 1_000_000  # loud failure beats a silent driver OOM


def _offset_dim(bucketed: DataFrame, agg: Column):
    """Collect per-bucket totals (bounded: bucket-key cardinality, at
    most MAX_BUCKETS rows through operators.bounded.bounded_collect in
    raise mode), prefix-sum driver-side, return (broadcast offsets
    frame, grand total). One bounded control-plane job; the caller's
    plan joins a literal dim."""
    head = bounded_collect(
        bucketed.groupBy(_B).agg(agg.cast("long").alias("__bn")),
        MAX_BUCKETS,
        f"bucketed rank: more than MAX_BUCKETS={MAX_BUCKETS} buckets; "
        "pick a coarser bucket key",
    )
    if head.column(_B).null_count:
        # A NULL bucket key would crash the Python sort below on mixed
        # types, and — worse — silently drop every null-bucket row at the
        # equi-join in the caller. The naive global window the device
        # replaces ranks NULL order keys deterministically, so a silent
        # drop is a wrong answer, not a degenerate one. Fail loudly and
        # tell the caller to pre-coalesce (e.g. bucket over
        # coalesce(value, sentinel) ordered like the window's null
        # ordering).
        raise ValueError(
            "bucketed rank: bucket key is NULL for some rows; coalesce "
            "the bucket expression to a sentinel that sorts like the "
            "window's null ordering (NULLS FIRST -> lowest bucket)"
        )
    offsets, acc = [], 0
    for b, n in sorted(
        zip(head.column(_B).to_pylist(), head.column("__bn").to_pylist())
    ):
        offsets.append((b, acc))
        acc += n or 0
    spark = bucketed.sparkSession
    btype = bucketed.schema[_B].dataType.simpleString()
    dim = spark.createDataFrame(offsets, f"{_B} {btype}, {_OFF} long")
    return F.broadcast(dim), acc


def bucketed_global_rank(
    df: DataFrame,
    bucket: Column,
    order_cols: list,
    rank_col: str = "rn",
    total_col: str | None = None,
) -> DataFrame:
    """df + `rank_col` = row_number() OVER (ORDER BY *order_cols), and
    optionally `total_col` = COUNT(*) OVER () — computed without any
    single-partition window. `bucket` must be a non-decreasing function
    of the order (see module docstring)."""
    wd = df.withColumn(_B, bucket)
    dim, total = _offset_dim(wd, F.count("*"))
    wlocal = Window.partitionBy(_B).orderBy(*order_cols)
    out = (
        wd.withColumn(_LOCAL, F.row_number().over(wlocal))
        .join(dim, _B)
        .withColumn(rank_col, (F.col(_OFF) + F.col(_LOCAL)).cast("long"))
        .drop(_B, _LOCAL, _OFF)
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(total).cast("long"))
    return out


def bucketed_running_sum(
    df: DataFrame,
    bucket: Column,
    order_cols: list,
    out_col: str = "running_sum",
) -> DataFrame:
    """df + `out_col` = SUM(n_tokens) OVER (ORDER BY *order_cols ROWS
    UNBOUNDED PRECEDING) — inclusive running total, no single-partition
    window. Same bucket-key contract as bucketed_global_rank."""
    wd = df.withColumn(_B, bucket)
    dim, _ = _offset_dim(wd, F.sum("n_tokens"))
    wlocal = (
        Window.partitionBy(_B)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        wd.withColumn(_LOCAL, F.sum("n_tokens").over(wlocal))
        .join(dim, _B)
        .withColumn(out_col, (F.col(_OFF) + F.col(_LOCAL)).cast("long"))
        .drop(_B, _LOCAL, _OFF)
    )


def grouped_histogram_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: dict[str, tuple[int, int]],
) -> DataFrame:
    """Per-group EXACT order-statistic quantiles via the histogram
    specialization of the bucketed-rank device (bucket == the value
    itself): one map-side-combinable groupBy collapses the corpus to a
    (group x distinct-value) histogram, a cumulative sum PARTITIONED BY
    group runs over that histogram frame, and the p-quantile is the
    least value whose cumulative count reaches ceil(p*n) — the
    inverse-CDF / lower order statistic, identical to selecting rank
    ceil(p*n) from a fully ranked sort but with the corpus never passing
    through any window at all (ranking a 100 TB corpus to read 3 order
    statistics is the anti-pattern this replaces).

    `quantiles` maps output column name -> (num, den) with the position
    computed as ceil(num*n/den) in pure integer arithmetic
    ((num*n + den - 1) div den), so engine parity is exact. Contract:
    the value column must have bounded per-group cardinality (lengths,
    counts, bands — histogram-sized), which is also what makes the
    cumsum frame corpus-size independent. Also emits n_<group rows> as
    `n_values` and the group max as `max_value`."""
    hist = df.groupBy(*group_cols, value_col).agg(F.count("*").alias("__hc"))
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*group_cols)
    cum = hist.withColumn("__cw", F.sum("__hc").over(wcum)).withColumn(
        "__n", F.sum("__hc").over(wall)
    )
    aggs = [
        F.sum("__hc").cast("long").alias("n_values"),
        F.max(value_col).cast("long").alias("max_value"),
    ]
    for out_name, (num, den) in quantiles.items():
        pos = F.expr(f"({num} * __n + {den - 1}) div {den}")
        aggs.append(
            F.min(F.when(F.col("__cw") >= pos, F.col(value_col)))
            .cast("long")
            .alias(out_name)
        )
    return cum.groupBy(*group_cols).agg(*aggs)


def ntile_from_rank(rank_sql: str) -> Column:
    """SQL NTILE(4) over `n_users` rows recomputed from a global rank in
    TRUE integer arithmetic (`div`, never float division — IEEE rounding
    can flip a bucket boundary past 2^53): with n = n_users and k = 4,
    the first n%k tiles get n div k + 1 rows, the rest n div k — exactly
    Spark's and DuckDB's NTILE contract. With rn 1-based and
    q = n div k, r = n mod k: rows at rn <= (q+1)*r sit in the
    (q+1)-sized tiles; later rows in q-sized tiles (the q=0 degenerate
    case never reaches the ELSE branch because the cut then equals n).
    Takes SQL text so the whole expression stays in integer `div`."""
    q = "((n_users) div 4)"
    r = "((n_users) % 4)"
    cut = f"(({q} + 1) * {r})"
    return F.expr(
        f"CAST(CASE WHEN ({rank_sql}) <= {cut}"
        f" THEN (({rank_sql}) - 1) div ({q} + 1) + 1"
        f" ELSE {r} + (({rank_sql}) - {cut} - 1) div {q} + 1 END AS BIGINT)"
    )
