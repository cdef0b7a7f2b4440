"""Sampling-design + doc-structure queries: Neyman allocation,
sentence segmentation, systematic sampling, paragraph structure,
dedup-aware mixing and the other samplers and profiles below.

Reference analogue: the reference sizes its per-borough surveillance
samples with ad-hoc driver-side proportions (`app_upgraded.py`
dashboard sampling) and never computes segment structure at all; these
are the engine-grade versions a training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text_funcs import (
    SENT_INJECT,
    SENT_SPLIT,
    sentences,
    tokens,
    word_count,
    words,
)
from ..operators.allocation import largest_remainder_allocation
from ..operators.ranking import grouped_histogram_quantiles
from ..registry import register
from ..tables import table

# --- Neyman allocation -------------------------------------------------

_NEYMAN_BUDGET = 100_000
_W_SCALE = 1_000_000  # weight quantization: floor(w * 1e6) -> BIGINT


@register(
    "samp_neyman_allocation",
    oracle=f"""
        WITH m AS (
            SELECT source, COUNT(*) AS n_docs,
                   SUM(CAST(n_chars AS HUGEINT)) AS s1,
                   SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2
            FROM documents GROUP BY source
        ), w AS (
            SELECT source, n_docs,
                   CAST(FLOOR(SQRT(CAST(n_docs * s2 - s1 * s1 AS DOUBLE))
                              * {_W_SCALE}.0) AS BIGINT) AS wq
            FROM m
        ), t AS (
            SELECT SUM(wq) AS tw FROM w
        ), b AS (
            SELECT source, n_docs, wq,
                   (CAST({_NEYMAN_BUDGET} AS HUGEINT) * wq) // tw AS base,
                   (CAST({_NEYMAN_BUDGET} AS HUGEINT) * wq) % tw AS rem
            FROM w, t
        ), e AS (
            SELECT {_NEYMAN_BUDGET} - SUM(base) AS extra FROM b
        ), r AS (
            SELECT b.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
            FROM b
        )
        SELECT source,
               CAST(n_docs AS BIGINT) AS n_docs,
               wq AS neyman_weight,
               CAST(base AS BIGINT) AS alloc_base,
               CAST(base + CASE WHEN rk <= (SELECT extra FROM e)
                                THEN 1 ELSE 0 END AS BIGINT) AS alloc
        FROM r
    """,
    tags=("sampling", "design", "training-data"),
    bench=True,
)
def samp_neyman_allocation(spark, sf_dir):
    """Neyman-optimal stratified-sample allocation over sources:
    n_h proportional to N_h * s_h, integer allocations that sum EXACTLY
    to the budget via the largest-remainder method.

    The algebra that keeps both engines bit-identical: the Neyman
    weight N_h * s_h collapses to sqrt(N_h * sum(v^2) - sum(v)^2) — the
    square root of an EXACT integer (population variance numerator via
    sum / sum-of-squares, products carried in DECIMAL(38,0) /
    HUGEINT so nothing wraps), and IEEE-754 sqrt of the same double is
    correctly rounded in both engines. The weight is then quantized
    (floor(w * 1e6) -> BIGINT) so every downstream step — total,
    proportional floor share (`div`), remainder (%), and the
    largest-remainder +1 ranks — is pure integer arithmetic with no
    float sum whose accumulation order could differ across engines.

    Scale shape: ONE map-side-combinable groupBy over the corpus
    (count/sum/sum-of-squares per stratum); everything after runs on
    the sources-sized strata frame — two 1-row broadcast crossJoins
    (grand total, leftover budget) and one rank window over ~20 rows
    (GLOBAL_WINDOW_ALLOWLIST: the frame is corpus-size independent).
    At 100 TB the corpus crosses the wire as k partial aggregates."""
    docs = table(spark, sf_dir, "documents")
    m = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.expr("CAST(n_chars AS DECIMAL(19,0)) * n_chars")).alias("s2"),
    )
    w = m.select(
        "source",
        "n_docs",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(CAST(n_docs AS DECIMAL(38,0)) * s2"
            f" - s1 * s1 AS DOUBLE)) * {_W_SCALE}.0) AS BIGINT)"
        ).alias("wq"),
    )
    alloc = largest_remainder_allocation(
        w, "wq", _NEYMAN_BUDGET, order_col="source"
    )
    return alloc.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("wq").alias("neyman_weight"),
        "alloc_base",
        "alloc",
    )


# --- Sentence segmentation profile --------------------------------------

# The oracles restate functions/text_funcs.sentences in DuckDB from
# the same two patterns.
@register(
    "txt_sentence_segmentation_profile",
    oracle=rf"""
        WITH s AS (
            SELECT lang,
                   unnest(string_split_regex(
                       regexp_replace(text, '{SENT_INJECT}', '\1. ', 'g'),
                       '{SENT_SPLIT}')) AS sent
            FROM documents
        ), sw AS (
            SELECT lang,
                   len(list_filter(string_split(sent, ' '), x -> x <> ''))
                       AS words
            FROM s
        ), h AS (
            SELECT lang, words, COUNT(*) AS c
            FROM sw WHERE words > 0 GROUP BY 1, 2
        ), cum AS (
            SELECT lang, words, c,
                   SUM(c) OVER (PARTITION BY lang ORDER BY words) AS cw,
                   SUM(c) OVER (PARTITION BY lang) AS n
            FROM h
        ), q AS (
            SELECT lang,
                   CAST(SUM(c) AS BIGINT) AS n_sentences,
                   CAST(MAX(words) AS BIGINT) AS max_words,
                   CAST(MIN(CASE WHEN cw >= (1 * n + 3) // 4
                            THEN words END) AS BIGINT) AS q1_words,
                   CAST(MIN(CASE WHEN cw >= (1 * n + 1) // 2
                            THEN words END) AS BIGINT) AS med_words,
                   CAST(MIN(CASE WHEN cw >= (3 * n + 3) // 4
                            THEN words END) AS BIGINT) AS q3_words
            FROM cum GROUP BY lang
        ), d AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY lang
        )
        SELECT d.lang, n_docs, n_sentences, q1_words, med_words, q3_words,
               max_words
        FROM d JOIN q USING (lang)
    """,
    tags=("text", "structure", "training-data"),
    bench=True,
)
def txt_sentence_segmentation_profile(spark, sf_dir):
    """Regex sentence-segmentation profile per language: sentence
    counts and sentence-length (in words) quartiles — the doc-structure
    statistic packing and chunking recipes key on (mean/median sentence
    length decides chunk stride; the q3/max tail decides whether
    sentences can be boundary-respected at all).

    Quartiles are EXACT order statistics (inverse CDF at ceil(p*n),
    all-integer positions) computed by the histogram specialization of
    the bucketed-rank device (operators/ranking.py
    grouped_histogram_quantiles): the corpus collapses to a
    (lang x sentence-length) histogram in one map-side-combinable
    groupBy, and the cumulative-count window runs PARTITIONED BY lang
    over that bounded histogram frame — no corpus-sized window, no
    global window at all, no per-language skew (the heavy lifting is
    the histogram groupBy on the composite key).

    Scan economics at 100 TB: the text column is read ONCE (the
    sentence pass); the n_docs branch re-scans only the pruned `lang`
    column (ReadSchema shows the single column)."""
    docs = table(spark, sf_dir, "documents")
    sent = docs.select(
        "lang",
        F.explode(F.expr(sentences("text"))).alias("sent"),
    ).select(
        "lang",
        F.expr(word_count("sent")).alias("words"),
    ).filter(F.col("words") > 0)
    q = grouped_histogram_quantiles(
        sent,
        ["lang"],
        "words",
        {"q1_words": (1, 4), "med_words": (1, 2), "q3_words": (3, 4)},
    ).select(
        "lang",
        F.col("n_values").alias("n_sentences"),
        "q1_words",
        "med_words",
        "q3_words",
        F.col("max_value").alias("max_words"),
    )
    d = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    return d.join(q, "lang").select(
        "lang",
        "n_docs",
        "n_sentences",
        "q1_words",
        "med_words",
        "q3_words",
        "max_words",
    )


# --- Systematic sampling -------------------------------------------------

_SYS_BUDGET = 2_000
_SYS_SALT = "sysint"


def _sys_oracle() -> str:
    from ..operators.sampling import deviate_sql

    return f"""
        WITH dev AS (
            SELECT doc_id, source, n_chars,
                   {deviate_sql("doc_id", _SYS_SALT)} AS d
            FROM documents
        ), r AS (
            SELECT source, n_chars,
                   ROW_NUMBER() OVER (ORDER BY d, doc_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM dev
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM r
        WHERE (rn - 1) % GREATEST(1, n // {_SYS_BUDGET}) = 0
        GROUP BY source
    """


@register(
    "samp_systematic_interval",
    oracle=_sys_oracle(),
    tags=("sampling", "design", "training-data"),
)
def samp_systematic_interval(spark, sf_dir):
    """Systematic (every k-th) sampling on the md5-deviate order — the
    third classical design next to stratified
    (`sample_stratified_sources`) and Neyman (`samp_neyman_allocation`):
    order rows by a deterministic uniform deviate of the key, take every
    k-th with stride k = max(1, N div budget). Ordering by the HASH
    rather than any natural key is what makes the systematic sample
    unbiased w.r.t. ingestion order, and makes membership a pure
    function of the data (layout/cluster-shape independent — the oracle
    replays it row-for-row).

    The global rank comes from the bucketed-rank device
    (operators/ranking.py): the deviate is uniform on [0, 2^60), so
    `d div 2^44` buckets it into <= 65,536 uniform ranges — the offsets
    dim is bounded BY CONSTRUCTION at any corpus size, and no
    single-partition window exists in the plan. N rides along as the
    device's total_col, so the stride needs no extra join."""
    from ..operators.ranking import bucketed_global_rank
    from ..operators.sampling import hash_deviate

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        hash_deviate(F.col("doc_id"), _SYS_SALT).alias("d"),
    )
    ranked = bucketed_global_rank(
        docs,
        F.expr("d div 17592186044416"),  # 2^44: <= 2^16 uniform buckets
        [F.asc("d"), F.asc("doc_id")],
        rank_col="rn",
        total_col="n",
    )
    return (
        ranked.filter(
            F.expr(f"(rn - 1) % greatest(1, n div {_SYS_BUDGET}) = 0")
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


# --- Paragraph structure profile -----------------------------------------

_PARA_SENTS = 4  # paragraph = 4 consecutive sentences


@register(
    "txt_paragraph_structure_profile",
    oracle=rf"""
        WITH s AS (
            SELECT doc_id, source,
                   string_split_regex(
                       regexp_replace(text, '{SENT_INJECT}', '\1. ', 'g'),
                       '{SENT_SPLIT}') AS sents
            FROM documents
        ), idx AS (
            SELECT doc_id, source,
                   unnest(list_transform(range(len(sents)),
                       i -> {{'i': i,
                             'w': len(list_filter(
                                      string_split(sents[i + 1], ' '),
                                      x -> x <> ''))}})) AS e
            FROM s
        ), para AS (
            SELECT doc_id, source, e.i // {_PARA_SENTS} AS para_id,
                   CAST(SUM(e.w) AS BIGINT) AS para_words
            FROM idx GROUP BY 1, 2, 3
        ), h AS (
            SELECT source, para_words, COUNT(*) AS c
            FROM para WHERE para_words > 0 GROUP BY 1, 2
        ), cum AS (
            SELECT source, para_words, c,
                   SUM(c) OVER (PARTITION BY source ORDER BY para_words)
                       AS cw,
                   SUM(c) OVER (PARTITION BY source) AS n
            FROM h
        )
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_paragraphs,
               CAST(MIN(CASE WHEN cw >= (1 * n + 3) // 4
                        THEN para_words END) AS BIGINT) AS q1_words,
               CAST(MIN(CASE WHEN cw >= (1 * n + 1) // 2
                        THEN para_words END) AS BIGINT) AS med_words,
               CAST(MIN(CASE WHEN cw >= (3 * n + 3) // 4
                        THEN para_words END) AS BIGINT) AS q3_words,
               CAST(MAX(para_words) AS BIGINT) AS max_words
        FROM cum GROUP BY source
    """,
    tags=("text", "structure", "training-data"),
)
def txt_paragraph_structure_profile(spark, sf_dir):
    """Paragraph-structure profile per source — the layout-aware
    companion to the sentence profile: segment (same deterministic
    injection + real regex splitter), group every 4 consecutive
    sentences into a paragraph (integer-div on the sentence ordinal),
    and profile paragraph word counts with exact quartiles via the
    histogram quantile device. This is the stat a packing recipe keys
    on when sequences must respect PARAGRAPH boundaries (instruction
    tuning) rather than sentence boundaries (RAG chunking).

    Scale shape: posexplode keeps the sentence ordinal without any
    window; the (doc, paragraph) rollup shuffles on the composite key;
    quartiles run on the (source x para-length) histogram. The text
    column is read once."""
    docs = table(spark, sf_dir, "documents")
    sent = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.expr(sentences("text"))).alias("i", "sent"),
    ).select(
        "doc_id",
        "source",
        F.expr(f"i div {_PARA_SENTS}").alias("para_id"),
        F.expr(word_count("sent")).alias("w"),
    )
    para = (
        sent.groupBy("doc_id", "source", "para_id")
        .agg(F.sum("w").cast("long").alias("para_words"))
        .filter(F.col("para_words") > 0)
    )
    return grouped_histogram_quantiles(
        para.select("source", "para_words"),
        ["source"],
        "para_words",
        {"q1_words": (1, 4), "med_words": (1, 2), "q3_words": (3, 4)},
    ).select(
        "source",
        F.col("n_values").alias("n_paragraphs"),
        "q1_words",
        "med_words",
        "q3_words",
        F.col("max_value").alias("max_words"),
    )


# --- Dedup-aware mixing --------------------------------------------------

_MIX_BUDGET = 1_000_000


@register(
    "cur_dedup_aware_mixing",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source,
                   CAST(len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS BIGINT) AS n_tok,
                   ROW_NUMBER() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ), m AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_kept,
                   CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
                   CAST(SUM(CASE WHEN rn = 1 THEN n_tok ELSE 0 END)
                        AS BIGINT) AS dedup_tokens
            FROM t GROUP BY source
        ), tw AS (
            SELECT SUM(dedup_tokens) AS w FROM m
        ), b AS (
            SELECT m.*, (CAST({_MIX_BUDGET} AS HUGEINT) * dedup_tokens) // w AS base,
                   (CAST({_MIX_BUDGET} AS HUGEINT) * dedup_tokens) % w AS rem
            FROM m, tw
        ), e AS (
            SELECT {_MIX_BUDGET} - SUM(base) AS extra FROM b
        ), r AS (
            SELECT b.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
            FROM b
        )
        SELECT source, n_docs, n_kept, raw_tokens, dedup_tokens,
               CAST(base + CASE WHEN rk <= (SELECT extra FROM e)
                                THEN 1 ELSE 0 END AS BIGINT)
                   AS token_budget
        FROM r
    """,
    tags=("curation", "mixing", "dedup", "training-data"),
)
def cur_dedup_aware_mixing(spark, sf_dir):
    """Source mixing weights recomputed AFTER dedup: naive mixing sizes
    each source by its RAW token mass, which double-counts template
    duplicates (the exact failure mode Lee et al. 2022 measure —
    duplicated text trains like upweighted text). Here each source's
    mass is its token count over exact-dedup SURVIVORS (first doc per
    md5(text), the same keep rule as dedup_exact), and a 1M-token
    budget is split by the largest-remainder integer device
    (operators/allocation.py) — allocations sum exactly to the budget.

    Scale shape: the keep flag is a window partitioned by the text
    HASH (md5 evaluates map-side; the shuffle carries the 32-char hash,
    not the text); one groupBy folds the corpus to the sources frame;
    the allocation runs entirely on that dim (strata-sized crossJoins +
    rank — allowlisted)."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(word_count("text")).cast("long").alias("n_tok"),
        F.md5(F.col("text")).alias("h"),
    )
    keyed = docs.withColumn(
        "rn", F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
    )
    m = keyed.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum("n_tok").cast("long").alias("raw_tokens"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("dedup_tokens"),
    )
    alloc = largest_remainder_allocation(
        m, "dedup_tokens", _MIX_BUDGET, order_col="source", out_col="token_budget"
    )
    return alloc.select(
        "source", "n_docs", "n_kept", "raw_tokens", "dedup_tokens", "token_budget"
    )


# --- PPS Poisson sampling ------------------------------------------------

_PPS_K = 1_000  # expected sample size
_PPS_SCALE = 1 << 60


def _pps_oracle() -> str:
    from ..operators.sampling import deviate_sql

    dev = deviate_sql("doc_id", "pps")
    return f"""
        WITH t AS (
            SELECT SUM(CAST(n_chars AS HUGEINT)) AS tot FROM documents
        ), d AS (
            SELECT source, n_chars,
                   CAST({dev} AS HUGEINT) * tot
                       < CAST({_PPS_K} AS HUGEINT) * n_chars
                         * CAST({_PPS_SCALE} AS HUGEINT) AS in_sample,
                   CAST({_PPS_K} AS HUGEINT) * n_chars >= tot AS capped,
                   tot
            FROM documents, t
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sampled,
               CAST(SUM(CASE WHEN in_sample AND capped THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_capped,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(CASE WHEN in_sample AND NOT capped THEN tot
                             WHEN in_sample AND capped
                                  THEN {_PPS_K} * CAST(n_chars AS HUGEINT)
                             ELSE 0 END) AS BIGINT) AS ht_chars_num
        FROM d GROUP BY source
    """


@register(
    "samp_poisson_pps",
    oracle=_pps_oracle(),
    tags=("sampling", "design", "training-data"),
)
def samp_poisson_pps(spark, sf_dir):
    """Probability-proportional-to-size Poisson sampling with exact
    Horvitz-Thompson accounting — the weighted design the classical
    trio (stratified / Neyman / systematic) doesn't cover: doc i enters
    the sample independently with pi_i = min(1, k * size_i / T), so big
    documents are (almost) always kept and the HT estimator
    sum(size_i / pi_i) is unbiased for the total.

    Every comparison and the HT estimate are EXACT integers: membership
    tests `deviate * T < k * size * 2^60` with both sides carried in
    DECIMAL(38,0) / HUGEINT (no float pi ever exists), and the HT
    numerator uses the identity size/pi = T/k for uncapped docs — so
    per source it is `n_uncapped * T + k * sum(capped sizes)` over a
    fixed denominator k, emitted as `ht_chars_num` (estimate =
    num / k). Engine parity is bit-exact by construction.

    Scale shape: ONE corpus aggregate for T (1-row broadcast
    crossJoin, allowlisted), then a single scan pass — membership is a
    map-side predicate, the profile a map-side-combinable groupBy."""
    docs = table(spark, sf_dir, "documents")
    from ..operators.sampling import hash_deviate

    tot = docs.agg(F.sum("n_chars").cast("decimal(38,0)").alias("tot"))
    d = docs.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_chars",
        "tot",
        (
            hash_deviate(F.col("doc_id"), "pps").cast("decimal(38,0)")
            * F.col("tot")
            < F.expr(
                f"CAST({_PPS_K} AS DECIMAL(38,0)) * n_chars * {_PPS_SCALE}"
            )
        ).alias("in_sample"),
        F.expr(f"CAST({_PPS_K} AS DECIMAL(38,0)) * n_chars >= tot").alias(
            "capped"
        ),
    )
    return d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0))
        .cast("long")
        .alias("n_sampled"),
        F.sum(F.when(F.col("in_sample") & F.col("capped"), 1).otherwise(0))
        .cast("long")
        .alias("n_capped"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(
            F.when(
                F.col("in_sample") & ~F.col("capped"), F.col("tot")
            ).otherwise(
                F.when(
                    F.col("in_sample") & F.col("capped"),
                    F.expr(f"CAST({_PPS_K} AS DECIMAL(38,0)) * n_chars"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
        )
        .cast("long")
        .alias("ht_chars_num"),
    )


# --- Readability profile -------------------------------------------------


@register(
    "txt_readability_profile",
    oracle=rf"""
        WITH s AS (
            SELECT doc_id, source, text,
                   string_split_regex(
                       regexp_replace(text, '{SENT_INJECT}', '\1. ', 'g'),
                       '{SENT_SPLIT}') AS sents
            FROM documents
        ), per AS (
            SELECT source,
                   CAST(len(list_filter(sents, x -> trim(x) <> ''))
                        AS BIGINT) AS n_sents,
                   CAST(len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS BIGINT) AS n_words,
                   CAST(COALESCE(list_sum(list_transform(
                            list_filter(string_split(text, ' '),
                                        x -> x <> ''),
                            w -> len(w))), 0) AS BIGINT) AS n_wchars
            FROM s
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_sents) AS BIGINT) AS n_sentences,
               CAST(SUM(n_words) AS BIGINT) AS n_words,
               CAST(SUM(n_wchars) AS BIGINT) AS n_word_chars,
               ROUND(CAST(SUM(n_words) AS DOUBLE) / SUM(n_sents), 4)
                   AS words_per_sentence,
               ROUND(CAST(SUM(n_wchars) AS DOUBLE) / SUM(n_words), 4)
                   AS chars_per_word,
               ROUND(4.71 * (CAST(SUM(n_wchars) AS DOUBLE) / SUM(n_words))
                     + 0.5 * (CAST(SUM(n_words) AS DOUBLE) / SUM(n_sents))
                     - 21.43, 4) AS ari
        FROM per GROUP BY source
    """,
    tags=("text", "quality", "training-data"),
)
def txt_readability_profile(spark, sf_dir):
    """Readability signals per source from the same deterministic
    segmentation device: words per sentence, chars per word, and the
    Automated Readability Index (Senter & Smith 1967) — the
    quality-mixing covariate corpus recipes report next to perplexity.

    Parity discipline: all sums are integers; each ratio is ONE
    division from the same integer sums, and the ARI expression tree is
    written identically in both engines (literal coefficients, two
    divisions, fixed addition order) before a single round(4) — no
    order-dependent float accumulation exists.

    Scale shape: one text-reading scan, per-row array expressions, one
    map-side-combinable groupBy on source."""
    docs = table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.expr(f"size(filter({sentences('text')}, s -> trim(s) != ''))")
        .cast("long")
        .alias("n_sents"),
        F.expr(word_count("text")).cast("long").alias("n_words"),
        F.coalesce(
            F.aggregate(
                F.transform(
                    F.expr(words("text")), lambda w: F.length(w).cast("long")
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
            F.lit(0),
        ).alias("n_wchars"),
    )
    g = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_sents").cast("long").alias("n_sentences"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_wchars").cast("long").alias("n_word_chars"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    cpw = F.col("n_word_chars").cast("double") / F.col("n_words")
    return g.select(
        "source",
        "n_docs",
        "n_sentences",
        "n_words",
        "n_word_chars",
        F.round(wps, 4).alias("words_per_sentence"),
        F.round(cpw, 4).alias("chars_per_word"),
        F.round(F.lit(4.71) * cpw + F.lit(0.5) * wps - F.lit(21.43), 4).alias(
            "ari"
        ),
    )


# --- Allocation drift monitor --------------------------------------------

_DRIFT_BUDGET = 100_000
_DRIFT_HALF = _PPS_SCALE // 2  # deviate < 2^59 -> half A


def _drift_alloc_sql(mass_cte: str, out: str) -> str:
    """The largest-remainder allocation chain over a mass CTE."""
    return f"""
        {out}_t AS (SELECT SUM(mass) AS w FROM {mass_cte}),
        {out}_b AS (
            SELECT source, (CAST({_DRIFT_BUDGET} AS HUGEINT) * mass) // w AS base,
                   (CAST({_DRIFT_BUDGET} AS HUGEINT) * mass) % w AS rem
            FROM {mass_cte}, {out}_t
        ),
        {out}_e AS (
            SELECT {_DRIFT_BUDGET} - SUM(base) AS extra FROM {out}_b
        ),
        {out}_r AS (
            SELECT b.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
            FROM {out}_b b
        ),
        {out} AS (
            SELECT source,
                   CAST(base + CASE WHEN rk <= (SELECT extra FROM {out}_e)
                                    THEN 1 ELSE 0 END AS BIGINT) AS alloc
            FROM {out}_r
        )
    """


def _drift_oracle() -> str:
    from ..operators.sampling import deviate_sql

    dev = deviate_sql("doc_id", "driftsplit")
    return f"""
        WITH dv AS (
            SELECT source,
                   len(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS ntok,
                   {dev} < {_DRIFT_HALF} AS in_half
            FROM documents
        ),
        m AS (
            -- one grouped CTE carrying BOTH masses: a source with no
            -- docs in the half-split must still appear (mass 0), as it
            -- does on the engine side
            SELECT source,
                   CAST(SUM(ntok) AS BIGINT) AS mass_full,
                   CAST(SUM(CASE WHEN in_half THEN ntok ELSE 0 END)
                        AS BIGINT) AS mass_half
            FROM dv GROUP BY source
        ),
        mf AS (SELECT source, mass_full AS mass FROM m),
        mh AS (SELECT source, mass_half AS mass FROM m),
        {_drift_alloc_sql("mf", "af")},
        {_drift_alloc_sql("mh", "ah")}
        SELECT af.source,
               af.alloc AS alloc_full,
               ah.alloc AS alloc_half,
               CAST(ABS(af.alloc - ah.alloc) AS BIGINT) AS abs_drift
        FROM af JOIN ah USING (source)
    """


@register(
    "dq_allocation_drift",
    oracle=_drift_oracle(),
    tags=("dq", "sampling", "mixing", "training-data"),
)
def dq_allocation_drift(spark, sf_dir):
    """Allocation stability monitor: recompute the largest-remainder
    token budgets over a deterministic md5 half-split of the corpus and
    report each source's absolute budget drift vs the full-corpus
    allocation — the check a mixing recipe runs before committing
    budgets (a large drift means the mass estimates, hence the mix, are
    sample-sensitive; a stable allocation survives data growth).

    Both allocations run the shared integer device
    (operators/allocation.py); the half-split membership is the same
    hash-deviate contract as every sampler here, so the oracle replays
    the split row-for-row. Scale shape: token mass folds map-side per
    (split-membership x source) in one scan; everything after runs on
    two sources-sized frames."""
    from ..operators.sampling import hash_deviate

    docs = table(spark, sf_dir, "documents").select(
        "source",
        F.expr(word_count("text")).cast("long").alias("n_tok"),
        (hash_deviate(F.col("doc_id"), "driftsplit") < _DRIFT_HALF).alias(
            "in_half"
        ),
    )
    # one scan: fold mass per (source, in_half); full = A + B, half = A
    m = docs.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("mass_full"),
        F.sum(F.when(F.col("in_half"), F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("mass_half"),
    )
    m = m.localCheckpoint(eager=False)  # shared by both allocation runs
    af = largest_remainder_allocation(
        m.select("source", F.col("mass_full").alias("mass")),
        "mass",
        _DRIFT_BUDGET,
        order_col="source",
        out_col="alloc_full",
    ).select("source", "alloc_full")
    ah = largest_remainder_allocation(
        m.select("source", F.col("mass_half").alias("mass")),
        "mass",
        _DRIFT_BUDGET,
        order_col="source",
        out_col="alloc_half",
    ).select("source", "alloc_half")
    return af.join(ah, "source").select(
        "source",
        "alloc_full",
        "alloc_half",
        F.abs(F.col("alloc_full") - F.col("alloc_half"))
        .cast("long")
        .alias("abs_drift"),
    )


# --- Balanced halves -----------------------------------------------------


@register(
    "samp_balanced_halves",
    oracle="""
        WITH r AS (
            SELECT source, n_chars,
                   ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) % 2
                       AS grp
            FROM documents
        )
        SELECT source,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(SUM(CASE WHEN grp = 1 THEN n_chars ELSE 0 END) AS BIGINT)
                   AS chars_a,
               CAST(SUM(CASE WHEN grp = 0 THEN n_chars ELSE 0 END) AS BIGINT)
                   AS chars_b
        FROM r GROUP BY source
    """,
    tags=("sampling", "design", "training-data"),
)
def samp_balanced_halves(spark, sf_dir):
    """Deterministic balanced halving — greedy alternation down the
    size-sorted order (rank by n_chars DESC, alternate A/B), the
    anti-clustered split a paired eval/ablation design needs: unlike a
    Bernoulli half-split, the two halves' total masses differ by at
    most the largest single document within every size prefix.

    The global rank comes from the bucketed device with bucket =
    -n_chars (non-decreasing along the descending size order; bucket
    cardinality = distinct sizes, bounded by the size domain, not the
    corpus). Parity is pure integer (rank mod 2)."""
    from ..operators.ranking import bucketed_global_rank

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ranked = bucketed_global_rank(
        docs,
        (-F.col("n_chars")).cast("long"),
        [F.desc("n_chars"), F.asc("doc_id")],
        rank_col="rn",
    )
    g = ranked.withColumn("grp", F.col("rn") % 2)
    return g.groupBy("source").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_a"),
        F.sum(F.when(F.col("grp") == 0, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_b"),
    )


# --- Vocabulary growth (Heaps law) profile -------------------------------

_VG_DECILE = _PPS_SCALE // 10


def _vocab_growth_oracle() -> str:
    from ..operators.sampling import deviate_sql

    dev = deviate_sql("doc_id", "vocabgrow")
    return f"""
        WITH d AS (
            SELECT lang,
                   CAST({dev} // {_VG_DECILE} AS BIGINT) AS dec,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS t
            FROM documents
        ), tok_min AS (
            SELECT lang, t, MIN(dec) AS m FROM d GROUP BY lang, t
        ), vocab_h AS (
            SELECT lang, m AS dec, CAST(COUNT(*) AS BIGINT) AS v
            FROM tok_min GROUP BY lang, m
        ), occ_h AS (
            SELECT lang, dec, CAST(COUNT(*) AS BIGINT) AS o
            FROM d GROUP BY lang, dec
        ), spine AS (
            -- spine from documents, NOT the exploded token frame d: a
            -- lang whose docs all tokenize to empty must still emit 10
            -- zero rows, matching the engine's documents-derived spine
            -- (r12 advisor)
            SELECT DISTINCT lang, s.dec
            FROM documents, (SELECT unnest(range(10)) AS dec) s
        )
        SELECT spine.lang,
               CAST(spine.dec + 1 AS BIGINT) AS decile,
               CAST(SUM(COALESCE(o.o, 0)) OVER (
                    PARTITION BY spine.lang ORDER BY spine.dec) AS BIGINT)
                   AS tokens_cum,
               CAST(SUM(COALESCE(v.v, 0)) OVER (
                    PARTITION BY spine.lang ORDER BY spine.dec) AS BIGINT)
                   AS vocab_cum
        FROM spine
        LEFT JOIN vocab_h v ON spine.lang = v.lang AND spine.dec = v.dec
        LEFT JOIN occ_h o ON spine.lang = o.lang AND spine.dec = o.dec
    """


@register(
    "txt_vocab_growth_profile",
    oracle=_vocab_growth_oracle(),
    tags=("text", "tokenizer", "training-data"),
)
def txt_vocab_growth_profile(spark, sf_dir):
    """Heaps-law vocabulary growth per language: distinct-token and
    total-token counts at 10 deterministic corpus prefixes (md5-deviate
    deciles) — the stat that sizes a tokenizer's vocabulary budget and
    predicts how much new data still grows the vocab.

    The trick that makes 10 nested prefixes ONE pass: a token's vocab
    contribution at decile k is `min(decile over its docs) < k`, so one
    explode → (lang, token) min-decile → a 10-row-per-lang histogram,
    and the cumulative sums run over the (lang x 10) spine — the corpus
    never replays per prefix, and every window is partitioned by lang
    over a 10-row frame."""
    from pyspark.sql import Window as W

    from ..operators.sampling import hash_deviate

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        hash_deviate(F.col("doc_id"), "vocabgrow").alias("__dev"),
        F.explode(F.expr(tokens("text"))).alias("t"),
    ).select(
        "lang",
        # TRUE integer div: the deviate exceeds 2^53, so a double
        # division could flip a decile boundary DuckDB's // keeps exact
        F.expr(f"__dev div {_VG_DECILE}").alias("dec"),
        "t",
    )
    tok_min = d.groupBy("lang", "t").agg(F.min("dec").alias("m"))
    vocab_h = tok_min.groupBy("lang", F.col("m").alias("dec")).agg(
        F.count("*").cast("long").alias("v")
    )
    occ_h = d.groupBy("lang", "dec").agg(
        F.count("*").cast("long").alias("o")
    )
    spine = (
        docs.select("lang")
        .distinct()
        .crossJoin(
            F.broadcast(
                docs.sparkSession.range(10).select(
                    F.col("id").cast("long").alias("dec")
                )
            )
        )
    )
    w = W.partitionBy("lang").orderBy("dec")
    joined = (
        spine.join(vocab_h, ["lang", "dec"], "left")
        .join(occ_h, ["lang", "dec"], "left")
        .select(
            "lang",
            "dec",
            F.coalesce("v", F.lit(0)).alias("v"),
            F.coalesce("o", F.lit(0)).alias("o"),
        )
    )
    return joined.select(
        "lang",
        (F.col("dec") + 1).cast("long").alias("decile"),
        F.sum("o").over(w).cast("long").alias("tokens_cum"),
        F.sum("v").over(w).cast("long").alias("vocab_cum"),
    )


# --- Temperature-scaled mixing allocation --------------------------------

_TEMP_BUDGET = 100_000
_TEMP_TAUS = (1, 2, 4)


def _temp_weight_sql(tau: int, mass: str) -> str:
    """mass^(1/tau) floor-quantized to a BIGINT weight; tau in {1,2,4}
    uses only nested IEEE sqrt (correctly rounded, engine-identical) —
    no pow(), whose libm implementations may differ."""
    if tau == 1:
        return mass
    if tau == 2:
        return f"CAST(FLOOR(SQRT(CAST({mass} AS DOUBLE)) * 1000000.0) AS BIGINT)"
    return (
        f"CAST(FLOOR(SQRT(SQRT(CAST({mass} AS DOUBLE))) * 1000000.0) AS BIGINT)"
    )


def _temp_oracle() -> str:
    parts = []
    for tau in _TEMP_TAUS:
        parts.append(
            f"""
        w{tau} AS (
            SELECT source, CAST({tau} AS BIGINT) AS tau,
                   {_temp_weight_sql(tau, "mass")} AS wq
            FROM m
        ),
        t{tau} AS (SELECT SUM(wq) AS w FROM w{tau}),
        b{tau} AS (
            SELECT source, tau, wq,
                   (CAST({_TEMP_BUDGET} AS HUGEINT) * wq) // w AS base,
                   (CAST({_TEMP_BUDGET} AS HUGEINT) * wq) % w AS rem
            FROM w{tau}, t{tau}
        ),
        e{tau} AS (SELECT {_TEMP_BUDGET} - SUM(base) AS extra FROM b{tau}),
        r{tau} AS (
            SELECT b.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
            FROM b{tau} b
        ),
        a{tau} AS (
            SELECT source, tau, wq,
                   CAST(base + CASE WHEN rk <= (SELECT extra FROM e{tau})
                                    THEN 1 ELSE 0 END AS BIGINT) AS alloc
            FROM r{tau}
        )"""
        )
    unions = " UNION ALL ".join(f"SELECT * FROM a{t}" for t in _TEMP_TAUS)
    return f"""
        WITH m AS (
            SELECT source,
                   CAST(SUM(len(list_filter(string_split(text, ' '),
                                            x -> x <> ''))) AS BIGINT)
                       AS mass
            FROM documents GROUP BY source
        ),
        {",".join(parts)}
        SELECT source, tau, wq AS weight, alloc FROM ({unions})
    """


@register(
    "cur_mix_temperature_allocation",
    oracle=_temp_oracle(),
    tags=("curation", "mixing", "training-data"),
)
def cur_mix_temperature_allocation(spark, sf_dir):
    """Temperature-scaled mixing allocation: source token budgets
    proportional to mass^(1/tau) for tau in {1, 2, 4} — the sampling
    temperature multilingual/multi-domain mixes use to lift
    low-resource sources (tau=1 is proportional; higher tau flattens).
    Each tau's weights feed the shared largest-remainder device, so all
    three allocations sum exactly to the budget and land in one frame
    for side-by-side comparison.

    Engine parity: tau=2 and tau=4 weights use only NESTED IEEE sqrt
    on the exact integer mass (correctly rounded and identical in both
    engines — pow() is deliberately avoided, libm pow is not correctly
    rounded), floor-quantized to BIGINT before any arithmetic that
    could drift. One corpus fold; three dim-sized allocations."""
    from functools import reduce

    docs = table(spark, sf_dir, "documents")
    m = docs.groupBy("source").agg(
        F.expr(f"sum({word_count('text')})").cast("long").alias("mass")
    )
    m = m.localCheckpoint(eager=False)  # shared by the three tau runs
    outs = []
    for tau in _TEMP_TAUS:
        w = m.select(
            "source",
            F.lit(tau).cast("long").alias("tau"),
            F.expr(_temp_weight_sql(tau, "mass")).alias("wq"),
        )
        outs.append(
            largest_remainder_allocation(
                w, "wq", _TEMP_BUDGET, order_col="source"
            ).select("source", "tau", F.col("wq").alias("weight"), "alloc")
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


# --- Zipf head profile ---------------------------------------------------

_ZIPF_K = 20
_ZIPF_BUCKETS = 32


@register(
    "txt_zipf_profile",
    oracle=f"""
        WITH tok AS (
            SELECT lang,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS t
            FROM documents
        ), c AS (
            SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok GROUP BY lang, t
        ), tot AS (
            SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total FROM c
            GROUP BY lang
        ), r AS (
            SELECT lang, t, cnt,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY cnt DESC, t) AS rank
            FROM c
        ), top AS (
            SELECT lang, t, cnt, rank,
                   SUM(cnt) OVER (PARTITION BY lang ORDER BY rank) AS cum
            FROM r WHERE rank <= {_ZIPF_K}
        )
        SELECT top.lang,
               CAST(rank AS BIGINT) AS rank,
               t AS token,
               cnt,
               CAST((1000000 * cum) // total AS BIGINT) AS cum_share_ppm
        FROM top JOIN tot ON top.lang = tot.lang
    """,
    tags=("text", "tokenizer", "training-data"),
    bench=True,
)
def txt_zipf_profile(spark, sf_dir):
    """Zipf head profile per language: the top-20 tokens with exact
    ranks (count DESC, token ASC) and the cumulative head-mass share in
    integer ppm — the rank-frequency companion to the Heaps growth
    profile (together they size a tokenizer's budget: how fast the
    vocabulary grows, and how much mass the head already covers).

    Scale device — distributed top-k REFINEMENT, not a per-language
    sort: the (lang x token) counts first take a per-(lang, hash
    bucket) top-20 (window partitioned by lang AND bucket — 32 uniform
    token-hash buckets, so no 5-partition vocabulary sort exists
    anywhere), which provably contains the global top-20 (each token
    lives in exactly one bucket, and a global top-20 member is
    necessarily in its bucket's top-20); the final rank runs on the
    <= 640-row survivor frame per language. Head share is exact
    integer ppm: (1e6 * cumulative) div total."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    c = (
        docs.select(
            "lang",
            F.explode(F.expr(tokens("text"))).alias("t"),
        )
        .groupBy("lang", "t")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    c = c.localCheckpoint(eager=False)  # shared: totals + top-k path
    tot = c.groupBy("lang").agg(F.sum("cnt").cast("long").alias("total"))
    bucketed = c.withColumn(
        "b", F.pmod(F.xxhash64("t"), F.lit(_ZIPF_BUCKETS))
    )
    wb = W.partitionBy("lang", "b").orderBy(F.desc("cnt"), F.asc("t"))
    survivors = (
        bucketed.withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= _ZIPF_K)
        .drop("b", "rb")
    )
    wl = W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("t"))
    top = (
        survivors.withColumn("rank", F.row_number().over(wl))
        .filter(F.col("rank") <= _ZIPF_K)
        .withColumn(
            "cum",
            F.sum("cnt").over(
                W.partitionBy("lang")
                .orderBy("rank")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    )
    return top.join(tot, "lang").select(
        "lang",
        F.col("rank").cast("long").alias("rank"),
        F.col("t").alias("token"),
        "cnt",
        F.expr("CAST((1000000 * cum) div total AS BIGINT)").alias(
            "cum_share_ppm"
        ),
    )


# --- Deterministic bootstrap replicates ----------------------------------

_BOOT_R = 8
# Poisson(1) CDF thresholds quantized to the [0, 2^60) deviate domain:
# P(0)=P(1)=e^-1, P(2)=e^-1/2, P(3)=e^-1/6, remainder -> weight 4.
_BOOT_T = tuple(
    int(c * (1 << 60))
    for c in (
        0.36787944117144233,              # P(X=0)
        0.7357588823428847,               # P(X<=1)
        0.9196986029286058,               # P(X<=2)
        0.9810118431238462,               # P(X<=3)
    )
)


def _boot_weight_sql(dev: str) -> str:
    return f"""
        CASE WHEN {dev} < {_BOOT_T[0]} THEN 0
             WHEN {dev} < {_BOOT_T[1]} THEN 1
             WHEN {dev} < {_BOOT_T[2]} THEN 2
             WHEN {dev} < {_BOOT_T[3]} THEN 3
             ELSE 4 END
    """


def _boot_oracle() -> str:
    # the composite (doc, replicate) key spelled out — same "boot:<doc>:
    # <rep>" string the engine's hash_deviate hashes
    dev = (
        "CAST(('0x' || substr(md5('boot:' || CAST(doc_id AS VARCHAR)"
        " || ':' || CAST(r.rep AS VARCHAR)), 1, 15)) AS BIGINT)"
    )
    return f"""
        WITH r AS (SELECT unnest(range(1, {_BOOT_R + 1})) AS rep),
        d AS (
            SELECT r.rep, source, n_chars,
                   {_boot_weight_sql(dev)} AS w
            FROM documents, r
        )
        SELECT CAST(rep AS BIGINT) AS replicate,
               source,
               CAST(SUM(w) AS BIGINT) AS n_eff,
               CAST(SUM(w * n_chars) AS BIGINT) AS chars_w
        FROM d GROUP BY rep, source
    """


@register(
    "samp_bootstrap_profile",
    oracle=_boot_oracle(),
    tags=("sampling", "design", "uncertainty", "training-data"),
)
def samp_bootstrap_profile(spark, sf_dir):
    """Deterministic Poisson bootstrap — the uncertainty companion to
    the point designs: 8 replicates, each giving every doc an integer
    weight drawn from Poisson(1) via fixed CDF thresholds on the
    md5 deviate of (doc_id, replicate), so replicate membership is a
    pure function of the data (the oracle replays all 8 replicates
    row-for-row) and downstream variance estimates need no RNG state.
    Emits per-(replicate, source) effective doc counts and weighted
    char mass — the spread across replicates IS the bootstrap standard
    error of each source's mass estimate.

    Scale shape: an 8-row literal explode (map-side, no shuffle of its
    own), the weight a pure CASE on the hash — one shuffle total, the
    (replicate x source) groupBy, map-side combinable. This is the
    online-bootstrap formulation (Oza & Russell 2001) that streaming
    and 100 TB batch pipelines use precisely because it needs one pass
    and zero coordination."""
    from ..operators.sampling import hash_deviate

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, _BOOT_R + 1)])
        ).alias("rep"),
    ).select(
        "source",
        "n_chars",
        F.col("rep").cast("long").alias("replicate"),
        hash_deviate(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("rep").cast("string"),
            ),
            "boot",
        ).alias("dev"),
    )
    w = d.withColumn("w", F.expr(_boot_weight_sql("dev")))
    return w.groupBy("replicate", "source").agg(
        F.sum("w").cast("long").alias("n_eff"),
        F.sum(F.col("w") * F.col("n_chars")).cast("long").alias("chars_w"),
    )


# --- Proportional-vs-Neyman efficiency compare ---------------------------


@register(
    "samp_stratified_neyman_compare",
    oracle=f"""
        WITH m AS (
            SELECT source, COUNT(*) AS n_docs,
                   SUM(CAST(n_chars AS HUGEINT)) AS s1,
                   SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2
            FROM documents GROUP BY source
        ), w AS (
            SELECT source, n_docs,
                   n_docs * s2 - s1 * s1 AS var_num,
                   CAST(FLOOR(SQRT(CAST(n_docs * s2 - s1 * s1 AS DOUBLE))
                              * {_W_SCALE}.0) AS BIGINT) AS wq
            FROM m
        ),
        pt AS (SELECT SUM(n_docs) AS w FROM w),
        pb AS (
            SELECT source, (CAST({_NEYMAN_BUDGET} AS HUGEINT) * n_docs) // w AS base,
                   (CAST({_NEYMAN_BUDGET} AS HUGEINT) * n_docs) % w AS rem
            FROM w, pt
        ),
        pe AS (SELECT {_NEYMAN_BUDGET} - SUM(base) AS extra FROM pb),
        pr AS (
            SELECT pb.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
            FROM pb
        ),
        pa AS (
            SELECT source,
                   CAST(base + CASE WHEN rk <= (SELECT extra FROM pe)
                                    THEN 1 ELSE 0 END AS BIGINT)
                       AS alloc_prop
            FROM pr
        ),
        nt AS (SELECT SUM(wq) AS w FROM w),
        nb AS (
            SELECT source, (CAST({_NEYMAN_BUDGET} AS HUGEINT) * wq) // w AS base,
                   (CAST({_NEYMAN_BUDGET} AS HUGEINT) * wq) % w AS rem
            FROM w, nt
        ),
        ne AS (SELECT {_NEYMAN_BUDGET} - SUM(base) AS extra FROM nb),
        nr AS (
            SELECT nb.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
            FROM nb
        ),
        na AS (
            SELECT source,
                   CAST(base + CASE WHEN rk <= (SELECT extra FROM ne)
                                    THEN 1 ELSE 0 END AS BIGINT)
                       AS alloc_ney
            FROM nr
        )
        SELECT w.source,
               CAST(w.n_docs AS BIGINT) AS n_docs,
               ROUND(CAST(w.var_num AS DOUBLE), 6) AS var_num,
               pa.alloc_prop,
               na.alloc_ney,
               CASE WHEN pa.alloc_prop > 0
                    THEN ROUND(CAST(w.var_num AS DOUBLE) / pa.alloc_prop, 6)
                    END AS v_contrib_prop,
               CASE WHEN na.alloc_ney > 0
                    THEN ROUND(CAST(w.var_num AS DOUBLE) / na.alloc_ney, 6)
                    END AS v_contrib_ney
        FROM w JOIN pa USING (source) JOIN na USING (source)
    """,
    tags=("sampling", "design", "training-data"),
)
def samp_stratified_neyman_compare(spark, sf_dir):
    """Realized-vs-optimal stratified-design efficiency, per stratum:
    the estimator-variance contribution of stratum h under allocation
    n_h is N_h^2 * s_h^2 / n_h, and with the exact integer variance
    numerator var_num_h = N_h*sum(v^2) - sum(v)^2 that collapses to
    var_num_h / n_h — so the whole comparison (proportional allocation
    on N_h vs Neyman allocation on sqrt(var_num_h)) is integer algebra
    plus ONE rounded division per reported cell. Summing v_contrib
    columns gives each design's total variance; their ratio is the
    classical Neyman efficiency gain — computable downstream from this
    frame with no further data access.

    Both allocations run the shared largest-remainder device over the
    same single corpus fold (count/sum/sum-of-squares per source)."""
    docs = table(spark, sf_dir, "documents")
    m = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.expr("CAST(n_chars AS DECIMAL(19,0)) * n_chars")).alias("s2"),
    )
    w = m.select(
        "source",
        "n_docs",
        # var_num ~ N_h^2 * var(n_chars): carried as exact DECIMAL(38,0)
        # — at large SF it exceeds 2^63, where DuckDB's HUGEINT->BIGINT
        # cast errors loudly but Spark's non-ANSI decimal->long cast
        # silently NULLs. The OUTPUT column is its
        # correctly-rounded double (identical in both engines for the
        # same exact integer); the exact value exists only on this
        # internal frame.
        F.expr(
            "CAST(CAST(n_docs AS DECIMAL(38,0)) * s2 - s1 * s1"
            " AS DECIMAL(38,0))"
        ).alias("var_num"),
        F.expr(
            "CAST(FLOOR(SQRT(CAST(CAST(n_docs AS DECIMAL(38,0)) * s2"
            f" - s1 * s1 AS DOUBLE)) * {_W_SCALE}.0) AS BIGINT)"
        ).alias("wq"),
    ).localCheckpoint(eager=False)  # shared by both allocation runs
    pa = largest_remainder_allocation(
        w.select("source", F.col("n_docs").cast("long").alias("nw")),
        "nw",
        _NEYMAN_BUDGET,
        order_col="source",
        out_col="alloc_prop",
    ).select("source", "alloc_prop")
    na = largest_remainder_allocation(
        w.select("source", "wq"),
        "wq",
        _NEYMAN_BUDGET,
        order_col="source",
        out_col="alloc_ney",
    ).select("source", "alloc_ney")
    return (
        w.join(pa, "source")
        .join(na, "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("var_num").cast("double"), 6).alias("var_num"),
            "alloc_prop",
            "alloc_ney",
            F.when(
                F.col("alloc_prop") > 0,
                F.round(
                    F.col("var_num").cast("double") / F.col("alloc_prop"), 6
                ),
            ).alias("v_contrib_prop"),
            F.when(
                F.col("alloc_ney") > 0,
                F.round(
                    F.col("var_num").cast("double") / F.col("alloc_ney"), 6
                ),
            ).alias("v_contrib_ney"),
        )
    )


# --- N-gram novelty curve ------------------------------------------------


def _novelty_oracle() -> str:
    from ..operators.sampling import deviate_sql

    dev = deviate_sql("doc_id", "novel")
    return f"""
        WITH d AS (
            SELECT source,
                   CAST({dev} // {_VG_DECILE} AS BIGINT) AS dec,
                   unnest(CASE WHEN len(list_filter(string_split(lower(text),
                                  ' '), t -> t <> '')) >= 3
                          THEN list_transform(
                                   range(len(list_filter(string_split(
                                       lower(text), ' '), t -> t <> '')) - 2),
                                   i -> array_to_string(list_slice(
                                        list_filter(string_split(lower(text),
                                            ' '), t -> t <> ''),
                                        CAST(i + 1 AS INTEGER),
                                        CAST(i + 3 AS INTEGER)), ' '))
                          ELSE [] END) AS g
            FROM documents
        ), gm AS (
            SELECT source, g, MIN(dec) AS m FROM d GROUP BY source, g
        ), newh AS (
            SELECT source, m AS dec, CAST(COUNT(*) AS BIGINT) AS new_grams
            FROM gm GROUP BY source, m
        ), occ AS (
            SELECT source, dec, CAST(COUNT(*) AS BIGINT) AS occurrences
            FROM d GROUP BY source, dec
        )
        SELECT occ.source,
               CAST(occ.dec + 1 AS BIGINT) AS decile,
               occ.occurrences,
               COALESCE(newh.new_grams, 0) AS new_grams,
               ROUND(CAST(COALESCE(newh.new_grams, 0) AS DOUBLE)
                     / occ.occurrences, 6) AS novelty_rate
        FROM occ LEFT JOIN newh
          ON occ.source = newh.source AND occ.dec = newh.dec
    """


@register(
    "txt_ngram_novelty_curve",
    oracle=_novelty_oracle(),
    tags=("text", "dedup", "curation", "training-data"),
)
def txt_ngram_novelty_curve(spark, sf_dir):
    """3-gram novelty curve per source: at each md5-deviate decile of
    the corpus, how many DISTINCT 3-grams appear for the first time,
    over that decile's gram occurrences — the dedup-aware cousin of the
    Heaps unigram curve (a flattening novelty rate means new data from
    this source is mostly repeating existing n-grams: the
    diminishing-returns signal data-acquisition decisions key on).

    Same one-pass device as txt_vocab_growth_profile: a gram's first
    appearance is min(decile over its docs), so one shingle explode +
    min-decile histogram covers all 10 nested prefixes — the corpus is
    never replayed per prefix. Deciles by TRUE integer div on the
    deviate. One rounded division per (source, decile) row."""
    from ..operators.curation import token_shingles
    from ..operators.sampling import hash_deviate

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        hash_deviate(F.col("doc_id"), "novel").alias("__dev"),
        F.explode(token_shingles("text", n=3)).alias("g"),
    ).select(
        "source", F.expr(f"__dev div {_VG_DECILE}").alias("dec"), "g"
    )
    d = d.localCheckpoint(eager=False)  # shared: min-decile + occurrence
    gm = d.groupBy("source", "g").agg(F.min("dec").alias("m"))
    newh = gm.groupBy("source", F.col("m").alias("dec")).agg(
        F.count("*").cast("long").alias("new_grams")
    )
    occ = d.groupBy("source", "dec").agg(
        F.count("*").cast("long").alias("occurrences")
    )
    return occ.join(newh, ["source", "dec"], "left").select(
        "source",
        (F.col("dec") + 1).cast("long").alias("decile"),
        "occurrences",
        F.coalesce("new_grams", F.lit(0)).cast("long").alias("new_grams"),
        F.round(
            F.coalesce("new_grams", F.lit(0)).cast("double")
            / F.col("occurrences"),
            6,
        ).alias("novelty_rate"),
    )


# --- Capture-recapture coverage estimate ---------------------------------

_CAP_RATE = int(0.3 * _PPS_SCALE)  # each capture samples 30%


def _capture_oracle() -> str:
    from ..operators.sampling import deviate_sql

    da = deviate_sql("doc_id", "capA")
    db = deviate_sql("doc_id", "capB")
    return f"""
        WITH d AS (
            SELECT source,
                   {da} < {_CAP_RATE} AS in_a,
                   {db} < {_CAP_RATE} AS in_b
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both,
               ROUND((CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) + 1
                      AS DOUBLE)
                      * (SUM(CASE WHEN in_b THEN 1 ELSE 0 END) + 1))
                     / (SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) + 1)
                     - 1, 4) AS chapman_est
        FROM d GROUP BY source
    """


@register(
    "samp_capture_recapture",
    oracle=_capture_oracle(),
    tags=("sampling", "design", "coverage", "training-data"),
)
def samp_capture_recapture(spark, sf_dir):
    """Two-sample capture-recapture coverage estimation (Chapman's
    bias-corrected Lincoln-Petersen): two INDEPENDENT deterministic
    30% captures (different md5 salts on the same key are independent
    by construction), exact integer overlap, and the population
    estimate (n_a+1)(n_b+1)/(n_both+1) - 1 as ONE rounded division —
    next to true n_docs so the estimator's error is visible per
    source. This is the design that estimates how much of a population
    a crawler/pipeline is covering when the population can't be
    enumerated — at 100 TB the point is the whole query is one
    map-side pass: both memberships are scan-stage predicates on the
    hash, the profile one combinable groupBy."""
    from ..operators.sampling import hash_deviate

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        (hash_deviate(F.col("doc_id"), "capA") < _CAP_RATE).alias("in_a"),
        (hash_deviate(F.col("doc_id"), "capB") < _CAP_RATE).alias("in_b"),
    )
    return d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("in_b"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
        F.round(
            (
                (
                    F.sum(F.when(F.col("in_a"), 1).otherwise(0)) + 1
                ).cast("double")
                * (F.sum(F.when(F.col("in_b"), 1).otherwise(0)) + 1)
            )
            / (
                F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
                + 1
            )
            - 1,
            4,
        ).alias("chapman_est"),
    )


# --- Term burstiness profile ---------------------------------------------

_BURST_K = 20
_BURST_MIN_DF = 5
_BURST_BUCKETS = 32


@register(
    "txt_burstiness_profile",
    oracle=f"""
        WITH tok AS (
            SELECT lang, doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS t
            FROM documents
        ), tf AS (
            SELECT lang, doc_id, t, COUNT(*) AS tf
            FROM tok GROUP BY 1, 2, 3
        ), c AS (
            SELECT lang, t,
                   CAST(COUNT(*) AS BIGINT) AS df,
                   CAST(SUM(tf) AS BIGINT) AS cf
            FROM tf GROUP BY 1, 2
        ), f AS (
            SELECT lang, t, df, cf,
                   CAST((1000000 * cf) // df AS BIGINT) AS burst_ppm
            FROM c WHERE df >= {_BURST_MIN_DF}
        ), r AS (
            SELECT lang, t, df, cf, burst_ppm,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY burst_ppm DESC, cf DESC, t)
                       AS rank
            FROM f
        )
        SELECT lang, CAST(rank AS BIGINT) AS rank, t AS term, df, cf,
               burst_ppm
        FROM r WHERE rank <= {_BURST_K}
    """,
    tags=("text", "tokenizer", "training-data"),
)
def txt_burstiness_profile(spark, sf_dir):
    """Church-Gale term burstiness per language: the top-20 terms by
    mean within-document repetition cf/df (collection frequency over
    document frequency, integer ppm) among terms seen in >= 5 docs.
    Bursty terms concentrate their occurrences in few documents — the
    dispersion axis that neither the Zipf head (raw frequency) nor the
    Heaps curve (vocabulary growth) captures, and the signal that
    separates topical/boilerplate terms from function words when
    picking tokenizer special-cases and dedup shingle stoplists.

    Integer-exact end to end: cf and df are sums from two map-side
    combinable groupBys — (lang, doc, term) term frequencies first, so
    NO count-distinct pass over the corpus exists — and the ratio is
    quantized to ppm with integer `div` before any ordering, so the
    rank's total order (burst_ppm DESC, cf DESC, term ASC) compares
    only integers. Top-k is the same distributed refinement device as
    txt_zipf_profile: per-(lang, 32-way token-hash-bucket) top-20
    first (a token lives in exactly ONE bucket, so the global top-20
    under the same total order is necessarily contained in the bucket
    survivors), then the final rank over the <= 640-row survivor frame
    per language — no vocabulary-sized sort anywhere in the plan."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "lang",
            "doc_id",
            F.explode(F.expr(tokens("text"))).alias("t"),
        )
        .groupBy("lang", "doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    c = (
        tf.groupBy("lang", "t")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
        .filter(F.col("df") >= _BURST_MIN_DF)
        .withColumn(
            "burst_ppm", F.expr("CAST((1000000 * cf) div df AS BIGINT)")
        )
    )
    bucketed = c.withColumn(
        "b", F.pmod(F.xxhash64("t"), F.lit(_BURST_BUCKETS))
    )
    wb = W.partitionBy("lang", "b").orderBy(
        F.desc("burst_ppm"), F.desc("cf"), F.asc("t")
    )
    survivors = (
        bucketed.withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= _BURST_K)
        .drop("b", "rb")
    )
    wl = W.partitionBy("lang").orderBy(
        F.desc("burst_ppm"), F.desc("cf"), F.asc("t")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(wl))
        .filter(F.col("rank") <= _BURST_K)
        .select(
            "lang",
            F.col("rank").cast("long").alias("rank"),
            F.col("t").alias("term"),
            "df",
            "cf",
            "burst_ppm",
        )
    )


# --- Fixed-size SRSWOR profile -------------------------------------------

_SRS_BUDGET = 5_000
_SRS_SALT = "srswor"


def _srswor_oracle() -> str:
    from ..operators.sampling import deviate_sql

    return f"""
        WITH dev AS (
            SELECT doc_id, source,
                   {deviate_sql("doc_id", _SRS_SALT)} AS d
            FROM documents
        ), r AS (
            SELECT source,
                   ROW_NUMBER() OVER (ORDER BY d, doc_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM dev
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN rn <= {_SRS_BUDGET} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sampled,
               CAST((1000000 * COUNT(*)) // MAX(n) AS BIGINT)
                   AS expected_ppm,
               CAST((1000000 * SUM(CASE WHEN rn <= {_SRS_BUDGET}
                                        THEN 1 ELSE 0 END))
                    // LEAST({_SRS_BUDGET}, MAX(n)) AS BIGINT)
                   AS realized_ppm
        FROM r GROUP BY source
    """


@register(
    "samp_srswor_profile",
    oracle=_srswor_oracle(),
    tags=("sampling", "design", "training-data"),
)
def samp_srswor_profile(spark, sf_dir):
    """Fixed-size simple random sample WITHOUT replacement (SRSWOR,
    n = 5,000): the n smallest md5 deviates over the whole corpus ARE
    a uniform n-subset (every key gets an i.i.d. uniform deviate; the
    bottom-n of an exchangeable order is equally likely to be any
    n-set), so fixed-SIZE sampling — which a Bernoulli design (keep
    each key whose deviate is under rate x 2^60) can only hit in
    expectation — becomes a top-k on
    a pure function of the data, reproducible across engines, cluster
    shapes, and reruns. Emits the per-source realized-vs-expected
    representation profile (share of sample vs share of population,
    integer ppm): sampling-noise skew visible per stratum next to the
    exact expectation.

    Scale shape: the global bottom-n rank comes from the bucketed-rank
    device on `d div 2^44` (<= 2^16 uniform buckets bounded BY
    CONSTRUCTION at any corpus size — same as
    samp_systematic_interval), so no single-partition window exists;
    the profile then needs just ONE combinable groupBy over the ranked
    frame, with the population total riding along as the device's
    total_col (no second corpus scan, no extra join)."""
    from ..operators.ranking import bucketed_global_rank
    from ..operators.sampling import hash_deviate

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        hash_deviate(F.col("doc_id"), _SRS_SALT).alias("d"),
    )
    ranked = bucketed_global_rank(
        docs,
        F.expr("d div 17592186044416"),  # 2^44: <= 2^16 uniform buckets
        [F.asc("d"), F.asc("doc_id")],
        rank_col="rn",
        total_col="n",
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("rn") <= _SRS_BUDGET, 1).otherwise(0))
            .cast("long")
            .alias("n_sampled"),
            F.max("n").alias("__n"),
        )
        .select(
            "source",
            "n_docs",
            "n_sampled",
            F.expr("CAST((1000000 * n_docs) div __n AS BIGINT)").alias(
                "expected_ppm"
            ),
            F.expr(
                f"CAST((1000000 * n_sampled) div least({_SRS_BUDGET}, __n)"
                " AS BIGINT)"
            ).alias("realized_ppm"),
        )
    )
