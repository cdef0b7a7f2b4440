"""Integer budget allocation over a small keyed frame — the
largest-remainder (Hamilton) method in pure integer arithmetic.

Shared by the sampling-design tier (`samp_neyman_allocation` sizes
strata by exact-variance Neyman weights; `cur_dedup_aware_mixing`
sizes source token budgets by dedup-corrected mass): allocations are
floor shares `(budget * w) div W` topped up by +1 for the largest
remainders until the budget is met — so the result sums EXACTLY to the
budget and every stratum gets floor or floor+1, with no float division
anywhere (an IEEE remainder comparison could flip a boundary between
engines; `div`/`%` on BIGINT cannot).

Scale contract: the input frame is strata-sized (sources, buckets — a
dim, NOT the corpus). The grand total and leftover budget are 1-row
broadcast crossJoins and the remainder rank is a window over the same
tiny frame; callers register under the BNLJ / global-window allowlists
with that bound stated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def largest_remainder_allocation(
    df: DataFrame,
    weight_col: str,
    budget: int,
    out_col: str = "alloc",
) -> DataFrame:
    """df + integer `alloc_base` (floor share) and `out_col` (final
    allocation; Σ out_col == budget exactly). `weight_col` must be a
    non-negative BIGINT with a positive total; `source` breaks
    remainder ties deterministically (ascending)."""
    # shared across 3 consumers (total, leftover, rank) — without the
    # checkpoint Catalyst re-plans the upstream aggregate per consumer
    w = df.localCheckpoint(eager=False)
    tot = w.agg(F.sum(weight_col).alias("__tw"))
    b = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "*",
            # budget * weight is carried in DECIMAL(38,0): a 1e6 budget
            # times a corpus-scale token mass (~1e13 at 100 TB) exceeds
            # 2^63, and Spark's non-ANSI BIGINT multiply would wrap
            # SILENTLY while the DuckDB oracle (HUGEINT) errors loudly.
            # `div` on decimals returns BIGINT; `%` stays decimal and is
            # only compared (rank order), never summed.
            F.expr(
                f"(CAST({budget} AS DECIMAL(38,0)) * {weight_col}) div __tw"
            ).alias("alloc_base"),
            F.expr(
                f"(CAST({budget} AS DECIMAL(38,0)) * {weight_col}) % __tw"
            ).alias("__rem"),
        )
        .drop("__tw")
    )
    extra = b.agg((F.lit(budget) - F.sum("alloc_base")).alias("__extra"))
    ranked = b.crossJoin(F.broadcast(extra)).withColumn(
        "__rk",
        F.row_number().over(Window.orderBy(F.desc("__rem"), F.asc("source"))),
    )
    return (
        ranked.withColumn(
            out_col,
            (
                F.col("alloc_base")
                + F.when(F.col("__rk") <= F.col("__extra"), 1).otherwise(0)
            ).cast("long"),
        )
        .withColumn("alloc_base", F.col("alloc_base").cast("long"))
        .drop("__rem", "__rk", "__extra")
    )
