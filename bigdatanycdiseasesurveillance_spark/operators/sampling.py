"""Deterministic hash-based sampling — the reproducible form of the
row sampling a training-data pipeline runs constantly (downsample a
source, carve a held-out split, rate-limit a stratum).

`df.sample()` / `rand(seed)` are seed-stable only for a fixed partition
layout: repartition the input (or rerun at a different parallelism) and
the sampled SET changes. At 100 TB, where every rerun reads a different
file split, that makes sample membership unreproducible. Hashing a
stable key instead gives a sample that is a pure function of the DATA:
same rows in, same sample out, on any cluster shape, in any engine
(the md5-derived uniform deviate reproduces bit-for-bit in DuckDB, so
the correctness gate replays it exactly — `rand(seed)` never can).

The deviate: md5 of (salt:key) -> top 60 bits -> integer in [0, 2^60).
A row is in a p-sample iff deviate < p * 2^60. Strata and splits reuse
the same deviate with different salts/thresholds, so a row's membership
in different samples is independent across salts but stable within one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCALE = 1 << 60  # 15 hex digits of md5 -> [0, 2^60)
# per-source keep rates of sample_stratified and token budgets of
# take_token_budget; sources not listed take the call's default
STRATUM_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
TOKEN_BUDGETS = {"src0": 100_000, "src1": 600}


def md5_long(expr: Column) -> Column:
    """The engine's one md5 -> integer hash: the first 15 hex digits of
    md5(expr) as a long in [0, 2^60). DuckDB twin:
    CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(expr), 1, 15), 16, 10).cast("long")


def hash_deviate(key: Column, salt: str) -> Column:
    """Uniform integer deviate in [0, 2^60) as a pure function of
    (salt, key). JVM-side md5; DuckDB replays it exactly."""
    return md5_long(F.concat(F.lit(f"{salt}:"), key.cast("string")))


def deviate_sql(key_expr: str, salt: str) -> str:
    """The DuckDB-equivalent expression for hash_deviate (oracle use)."""
    return (
        f"CAST(('0x' || substr(md5('{salt}:' || CAST({key_expr} AS VARCHAR)),"
        f" 1, 15)) AS BIGINT)"
    )


def sample_stratified(df: DataFrame, default_rate: float = 0.0) -> DataFrame:
    """Per-source rates (`sampleBy` analog, but layout-independent):
    keep STRATUM_RATES[source] of each listed source and `default_rate`
    of the rest — the canonical rebalancing step before training-data
    mixing. Each row is kept deterministically by doc_id, with no
    shuffle: the predicate evaluates inside the scan stage and at
    100 TB composes with partition pruning (filter first, then
    sample)."""
    dev = hash_deviate(F.col("doc_id"), "strat")
    threshold = F.lit(int(default_rate * _SCALE))
    for stratum, rate in STRATUM_RATES.items():
        threshold = (
            F.when(F.col("source") == stratum, F.lit(int(rate * _SCALE)))
            .otherwise(threshold)
        )
    return df.filter(dev < threshold)


def train_test_split(df: DataFrame, test_rate: float = 0.1) -> DataFrame:
    """Tag every row 'train' or 'test' by doc_id — disjoint and
    exhaustive by construction (one deviate, one threshold), unlike two
    independent sample() calls which can overlap or leak. Downstream
    filters on the tag; the tag costs one md5 per row and no shuffle."""
    dev = hash_deviate(F.col("doc_id"), "split")
    return df.withColumn(
        "split",
        F.when(dev < F.lit(int(test_rate * _SCALE)), F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def take_token_budget(df: DataFrame, default_budget: int = 0) -> DataFrame:
    """Data mixing by token budget: per source, keep documents (in
    deterministic doc_id-deviate order) while the RUNNING `ntok` total
    before the document is still under the source's budget
    (TOKEN_BUDGETS, else `default_budget`) — so the selection fills
    each budget with at most one document of overshoot.

    This is the mixture-weights step of a pretraining data pipeline
    ("2e9 tokens of src0, 5e8 of src1, ..."): membership is a pure
    function of the data, reproducible on any cluster shape. One
    shuffle (the per-stratum window); adds `cum_tokens_before` and
    `keep`.
    """
    from pyspark.sql.window import Window

    dev = hash_deviate(F.col("doc_id"), "mix")
    w = (
        Window.partitionBy("source")
        .orderBy(dev, F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = F.lit(default_budget)
    for stratum, b in TOKEN_BUDGETS.items():
        budget = F.when(F.col("source") == stratum, F.lit(b)).otherwise(budget)
    cum_before = F.sum(F.col("ntok")).over(w) - F.col("ntok")
    return df.withColumn("cum_tokens_before", cum_before).withColumn(
        "keep", F.col("cum_tokens_before") < budget
    )
