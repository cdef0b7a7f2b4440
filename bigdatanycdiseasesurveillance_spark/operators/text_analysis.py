"""Text-analysis operators for training-data pipelines: token stats,
quality scoring, trigram language-ID, document fingerprinting.

All are native column expressions / DataFrame plans (no Python UDFs):
at 100 TB these are full-corpus scans, so staying in codegen is the
difference between scan-bandwidth throughput and a Python bottleneck.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_funcs import normalized, stopword_count, tokens


def token_stats(df: DataFrame) -> DataFrame:
    """Per-document token statistics of the `text` column (token
    counting for data budgets)."""
    toks = F.expr(tokens("text"))
    n = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    return df.withColumn("n_tokens", n.cast("long")).withColumn(
        "n_distinct_tokens", F.size(F.array_distinct(toks)).cast("long")
    ).withColumn(
        "stop_cnt", F.expr(stopword_count("text")).cast("long")
    ).withColumn(
        "avg_token_len",
        F.round(total_len.cast("double") / n.cast("double"), 4),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality score in [0,1] of the `text` column from length / stopword ratio /
    token diversity (the classic pretraining-corpus filters).

    Arithmetic is EXACT integer fixed-point: with n tokens, d distinct,
    st stopwords, a = min(n, 60), s4 = min(4*st, n), the score is the
    rational min(300n, 2an + 90d + 90s4) / 300n — identical to
    0.4*min(1,n/60) + 0.3*(d/n) + 0.3*min(1,4*st/n) — and every rounded
    output uses the integer round-half-up (20000*p + q) DIV (2q). Why:
    the float form lands EXACTLY on 4-decimal halves (e.g. n=80,
    d/n=0.3375, st/n=0.1875 -> 0.72625), where Spark's HALF_UP decimal
    rounding and DuckDB's double rounding disagree — caught by the sf1
    scale audit after three smaller SFs never hit a boundary."""
    toks = F.expr(tokens("text"))
    n = F.size(toks).cast("long")
    d = F.size(F.array_distinct(toks)).cast("long")
    st = F.expr(stopword_count("text")).cast("long")
    a = F.least(n, F.lit(60))
    s4 = F.least(st * 4, n)
    num = F.least(300 * n, 2 * a * n + 90 * d + 90 * s4)
    den = 300 * n

    def half_up_e4(p, q):
        # round-half-up(p/q, 4dp) as the exact integer (20000p+q) DIV 2q.
        # floor of the double ratio is safe: the true quotient is at
        # least 1/(2q) away from any other integer and q here is <= a
        # few hundred, far inside double precision.
        return F.when(q > 0, F.floor((20000 * p + q) / (2 * q)).cast("long"))

    def fx4(p, q):
        return half_up_e4(p, q) / F.lit(10000.0)

    e4 = half_up_e4(num, den)
    return (
        df.withColumn("n_tokens", n)
        .withColumn("distinct_ratio", fx4(d, n))
        .withColumn("stop_ratio", fx4(st, n))
        .withColumn("quality_score", e4 / F.lit(10000.0))
        .withColumn("is_high_quality", e4 >= 6000)
    )


def char_trigrams(text: str) -> Column:
    """Distinct character trigrams of normalized text (empty array if
    the text is shorter than 3 chars — Spark's sequence() would count
    DOWN for a negative span, so the guard matters).

    The normalized string is bound to a lambda variable via a
    one-element transform() so the regexp normalization runs ONCE per
    row; referencing it directly inside the per-trigram lambda would
    re-run the regexes for every element (O(len²) per doc)."""

    def _grams(norm: Column) -> Column:
        n = F.length(norm)
        grams = F.transform(
            F.sequence(F.lit(1), n - F.lit(2)), lambda i: norm.substr(i, F.lit(3))
        )
        return F.when(n >= 3, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(F.expr(normalized(text))), _grams), 1)


# trigrams per language profile
LANGID_PROFILE_SIZE = 50


def langid_trigram(docs: DataFrame) -> DataFrame:
    """Trigram language-ID over (doc_id, lang, text) rows: learn
    per-language profiles (the LANGID_PROFILE_SIZE most frequent
    trigrams over the labeled corpus), then classify each doc
    by profile overlap. Returns (doc_id, lang, predicted_lang, score).

    Fully distributed: profile building is explode+groupBy+rank (the
    profiles are tiny -> broadcast); scoring is explode + broadcast join
    + groupBy argmax. Deterministic: rank ties break on trigram asc,
    argmax ties break on language asc.
    """
    grams = docs.select(
        "doc_id", "lang", F.explode(char_trigrams("text")).alias("g")
    )
    # both the profile build and the scoring join consume the exploded
    # gram stream — persist it so normalization+explode runs one scan,
    # not two (at 100 TB this is a stage output you'd materialize anyway)
    grams = grams.persist()
    freq = grams.groupBy("lang", "g").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("g"))
    profiles = (
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= LANGID_PROFILE_SIZE)
        .select(F.col("lang").alias("profile_lang"), "g")
    )
    scored = (
        grams.join(F.broadcast(profiles), "g")
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(F.count("*").alias("score"))
    )
    pick = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("profile_lang"))
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("profile_lang").alias("predicted_lang"),
            F.col("score").cast("long").alias("score"),
        )
    )


def langid_trigram_fast(docs: DataFrame) -> DataFrame:
    """langid_trigram with the scoring phase as mapInPandas.

    The join formulation explodes every document into ~L trigram rows
    twice (profile build + scoring). Profiles are tiny (n_langs ×
    profile_size grams), so after the one profile-building pass they
    collect to the driver and ship to workers inside the closure;
    scoring is then a single scan — per doc: trigram set, overlap count
    per language, argmax (ties to the lexicographically first language,
    matching rank desc(score) asc(lang)). Same contract as
    langid_trigram (cross-checked in tests/test_oracle_parity.py)."""
    import re as _re

    _non_alnum = _re.compile(r"[^a-z0-9 ]")
    _spaces = _re.compile(r" +")

    def trigrams(text: str) -> set:
        # mirrors text_funcs.normalized + char_trigrams exactly (shared by both
        # closures below; cloudpickle ships it by value)
        norm = _spaces.sub(" ", _non_alnum.sub(" ", (text or "").lower())).strip()
        if len(norm) < 3:
            return set()
        return {norm[i : i + 3] for i in range(len(norm) - 2)}

    from ..tables import parallelize_scan

    # profile build is Python-per-doc too — rebalance single-split
    # scans; lazily checkpointed so the SAME materialized partitions
    # feed the scoring pass below (one scan+rebalance, not two)
    src0 = parallelize_scan(docs.select("doc_id", "lang", "text")).localCheckpoint(eager=False)

    def partial_counts(batch_iter):  # map-side combine in Python
        from collections import Counter

        import pandas as _pd

        c = Counter()
        for pdf in batch_iter:
            for lang, text in zip(pdf["lang"], pdf["text"]):
                for g in trigrams(text):
                    c[(lang, g)] += 1
        yield _pd.DataFrame(
            {
                "lang": [l for l, _ in c],
                "g": [g for _, g in c],
                "freq": list(c.values()),
            }
        )

    # partials are per-task (lang, gram) counts — the explode+hash-agg
    # equivalent, but the JVM never builds the per-doc gram arrays
    # (array_distinct over ~300-element arrays measured as the dominant
    # cost of the all-DataFrame formulation)
    freq = src0.mapInPandas(partial_counts, "lang string, g string, freq long").groupBy(
        "lang", "g"
    ).agg(F.sum("freq").alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("g"))
    profile_rows = (
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= LANGID_PROFILE_SIZE)
        .groupBy("lang")
        .agg(F.collect_list("g").alias("grams"))
        .collect()
    )
    profiles = sorted((r["lang"], frozenset(r["grams"])) for r in profile_rows)

    out_schema = "doc_id long, lang string, predicted_lang string, score long"

    def score_batches(batch_iter):  # closure — ships the profiles
        import pandas as _pd

        for pdf in batch_iter:
            rows = {"doc_id": [], "lang": [], "predicted_lang": [], "score": []}
            for doc_id, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
                g = trigrams(text)
                best_lang, best_score = None, 0
                for plang, pgrams in profiles:
                    s = len(g & pgrams)
                    if s > best_score:
                        best_lang, best_score = plang, s
                if best_score > 0:
                    rows["doc_id"].append(doc_id)
                    rows["lang"].append(lang)
                    rows["predicted_lang"].append(best_lang)
                    rows["score"].append(best_score)
            yield _pd.DataFrame(rows)

    # scoring is Python-per-doc: reuse the checkpointed rebalanced scan
    # from the profile pass (it holds exactly the three needed columns)
    return src0.mapInPandas(score_batches, out_schema)
