"""Corpus-curation operators for training-data pipelines:
benchmark decontamination, per-domain quotas, and repetition-based
quality signals (Gopher-style).

These generalize the reference's per-document quality gates (reference:
src/spark_consumers/relevance_consumer.py:200-264 filters one doc at a
time in Python) into corpus-level set operations that stay inside
whole-stage codegen:

- decontamination is a shingle equi-join between corpus and benchmark —
  the shuffle key is the shingle hash, so cost is linear in total
  shingle count, never corpus x benchmark;
- domain caps are one row_number window per domain over a deterministic
  md5 deviate (layout-independent, so re-runs keep the same documents);
- repetition signals are per-row array expressions — no shuffle at all.

At 100 TB: the benchmark side of decontamination is tiny (benchmarks
are MBs) — broadcast it; the corpus side streams through one projection
+ one explode. Domain caps shuffle once on the domain key; skewed
domains can reuse operators.skew salting if one domain dominates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text_funcs import tokens
from .sampling import hash_deviate


def token_shingles(n: int = 5) -> Column:
    """Array of n-token shingles (space-joined) of the lowercased
    `text` column.

    The token array is bound to a lambda variable via a one-element
    transform so it materializes once per row; referencing the raw
    expression inside the sequence lambda would inline and re-evaluate
    the split per shingle position.
    """

    def _shingles(tok: Column) -> Column:
        # k may be <= 0 for short docs; sequence(1, 0) would DESCEND to
        # [1, 0], so build >= 1 positions then slice back to max(k, 0).
        k = F.size(tok) - F.lit(n - 1)
        arr = F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.array_join(F.slice(tok, i, n), " "),
        )
        return F.slice(arr, 1, F.greatest(k, F.lit(0)))

    return F.element_at(F.transform(F.array(F.expr(tokens("text"))), _shingles), 1)


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Flag corpus documents sharing any 5-token shingle with a
    benchmark document (test-set contamination scan); both sides are
    (doc_id, text) rows.

    Returns one row per contaminated corpus doc:
    (doc_id, n_hit_shingles, n_bench_docs) — how many distinct shingles
    of the doc appear in the benchmark, and how many distinct benchmark
    docs they touch. The join key is the shingle itself; the benchmark
    side is broadcast (benchmarks are small by construction).
    """
    c = corpus.select(
        F.col("doc_id").alias("c_id"),
        F.explode(F.array_distinct(token_shingles(5))).alias("sh"),
    )
    b = benchmark.select(
        F.col("doc_id").alias("b_id"),
        F.explode(F.array_distinct(token_shingles(5))).alias("sh"),
    )
    return (
        c.join(F.broadcast(b), "sh")
        .groupBy(F.col("c_id").alias("doc_id"))
        .agg(
            F.countDistinct("sh").cast("long").alias("n_hit_shingles"),
            F.countDistinct("b_id").cast("long").alias("n_bench_docs"),
        )
    )


def cap_per_domain(df: DataFrame, cap: int = 100) -> DataFrame:
    """Deterministic per-domain quota: keep at most `cap` documents per
    `source`, chosen by md5-hash deviate of the doc_id (stable across runs,
    partitionings, and cluster sizes — unlike rand(seed)).

    Adds `keep` (boolean) and `domain_rank`. One shuffle on the domain
    key; the deviate doubles as the tie-free ordering.
    """
    from pyspark.sql.window import Window

    dev = hash_deviate(F.col("doc_id"), "cap")
    w = Window.partitionBy("source").orderBy(dev, F.col("doc_id"))
    return df.withColumn("domain_rank", F.row_number().over(w)).withColumn(
        "keep", F.col("domain_rank") <= F.lit(cap)
    )


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals of the `text` column,
    per document:

    - n_grams:        total 2-token shingles
    - dup_gram_frac:  1 - distinct/total (mass in repeated n-grams)
    - top_gram_share: occurrences of the most frequent n-gram / total

    Pure per-row array math (no shuffle). The gram array binds to a
    lambda variable once; the per-distinct-gram occurrence counts run
    over that bound copy, so work per doc is O(distinct x total) on an
    already-materialized array — bounded by document length, which a
    curation pipeline bounds upstream anyway.
    """
    grams = token_shingles(2)

    def _sig(g: Column) -> Column:
        total = F.size(g)
        dcnt = F.size(F.array_distinct(g))
        top = F.array_max(
            F.transform(
                F.array_distinct(g),
                lambda u: F.size(F.filter(g, lambda x: x == u)),
            )
        )
        return F.struct(
            total.cast("long").alias("n_grams"),
            F.round(
                F.lit(1.0) - F.try_divide(dcnt.cast("double"), total.cast("double")), 4
            ).alias("dup_gram_frac"),
            F.round(
                F.try_divide(top.cast("double"), total.cast("double")), 4
            ).alias("top_gram_share"),
        )

    sig = F.element_at(F.transform(F.array(grams), _sig), 1)
    return df.withColumn("_sig", sig).select(
        "*",
        F.col("_sig.n_grams").alias("n_grams"),
        F.col("_sig.dup_gram_frac").alias("dup_gram_frac"),
        F.col("_sig.top_gram_share").alias("top_gram_share"),
    ).drop("_sig")


def nb_quality_scores(docs: DataFrame) -> DataFrame:
    """Multinomial Naive-Bayes quality classifier (the GPT-3 / CCNet
    filter step): positive seed = documents whose ``source`` is
    ``src0``, negative = the rest. Returns one row per non-empty
    document: (doc_id, source, n_tokens, quality_logodds, quality_keep)
    where quality_logodds is the Laplace-smoothed class log-odds rounded
    to 4 decimals and quality_keep = rounded log-odds > 0.

    The trained model is vocabulary-sized (term -> two smoothed counts)
    and broadcasts; scoring is explode -> broadcast join -> per-doc
    groupBy — two map-side-combinable shuffles, nothing quadratic. The
    same log-ratio dataflow computes DSIR importance weights with a
    target-domain split in place of the class split. Rounding happens
    BEFORE the keep/drop compare so the label cannot split on float
    summation order across engines or layouts.
    """
    is_pos = F.col("source") == "src0"
    tok = docs.select(
        "doc_id", "source", F.explode(F.expr(tokens("text"))).alias("term")
    )
    cnt = tok.groupBy("term").agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).alias("pos_c"),
        F.sum(F.when(is_pos, 0).otherwise(1)).alias("neg_c"),
    )
    st = cnt.agg(
        F.sum("pos_c").alias("pos_n"),
        F.sum("neg_c").alias("neg_n"),
        F.count("*").alias("v"),
    )
    pr = docs.agg(
        F.log(
            F.sum(F.when(is_pos, 1).otherwise(0))
            * 1.0
            / F.sum(F.when(is_pos, 0).otherwise(1))
        ).alias("prior")
    )
    llr = F.log((F.col("pos_c") + 1.0) / (F.col("pos_n") + F.col("v"))) - F.log(
        (F.col("neg_c") + 1.0) / (F.col("neg_n") + F.col("v"))
    )
    scored = (
        tok.join(F.broadcast(cnt), "term")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(llr).alias("s"),
        )
        .crossJoin(F.broadcast(pr))
    )
    logodds = F.round(F.col("s") + F.col("prior"), 4)
    return scored.select(
        "doc_id",
        "source",
        "n_tokens",
        logodds.alias("quality_logodds"),
        (logodds > 0).alias("quality_keep"),
    )
