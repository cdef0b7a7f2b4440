"""LM-pipeline operators: corpus-LM quality scoring and
temperature-based source mixing — the two knobs a pretraining-data
recipe turns after dedup/curation (filter docs the corpus model finds
improbable; reweight sources toward a smoothed distribution).

Scale shapes: the unigram model is vocabulary-sized and broadcasts, so
scoring is explode -> broadcast join -> per-doc groupBy (one shuffle on
doc_id, map-side combinable). Mixing is the same one-window-per-stratum
profile as domain caps/token budgets: the md5 deviate makes membership
layout-independent (re-runs and retries select identical documents —
rand() would not), and the source-weight table is sources-sized.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text_funcs import tokens
from ..operators.sampling import hash_deviate
from ..registry import register
from ..tables import table

_MIX_ALPHA = 0.5  # temperature smoothing exponent (count^alpha)
_MIX_BUDGET = 0.5  # select half the corpus


@register(
    "txt_unigram_logprob",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS term
            FROM documents
        ),
        uni AS (
            SELECT term, COUNT(*) AS c FROM tok GROUP BY term
        ),
        tot AS (SELECT SUM(c) AS n FROM uni),
        scored AS (
            SELECT t.doc_id,
                   COUNT(*) AS n_tokens,
                   AVG(ln(u.c * 1.0 / tot.n)) AS lp
            FROM tok t JOIN uni u ON t.term = u.term, tot
            GROUP BY t.doc_id
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(lp, 4) AS avg_logprob
        FROM scored
    """,
    tags=("text", "lm", "quality"),
)
def txt_unigram_logprob(spark, sf_dir):
    """Corpus-LM quality score: per-document mean unigram
    log-likelihood under the corpus's own term distribution — the
    perplexity-filter stand-in (real LM scoring swaps the broadcast
    unigram table for a model UDF; the dataflow is identical).
    Improbable-token documents score low and get filtered by the
    curation tier."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(tokens("text"))).alias("term"))
    uni = tok.groupBy("term").agg(F.count("*").alias("c"))
    tot = uni.agg(F.sum("c").alias("n"))
    return (
        tok.join(F.broadcast(uni), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") * 1.0 / F.col("n"))), 4).alias(
                "avg_logprob"
            ),
        )
    )


@register(
    "mix_temperature_sampling",
    oracle=f"""
        WITH counts AS (
            SELECT source, COUNT(*) AS n FROM documents GROUP BY source
        ),
        w AS (
            SELECT source, n,
                   POWER(n, {_MIX_ALPHA})
                       / SUM(POWER(n, {_MIX_ALPHA})) OVER () AS wt
            FROM counts
        ),
        tgt AS (
            SELECT source, n,
                   CAST(FLOOR(ROUND(wt * {_MIX_BUDGET}
                              * (SELECT SUM(n) FROM counts), 9)) AS BIGINT)
                       AS target_n
            FROM w
        ),
        ranked AS (
            SELECT d.source, d.doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.source
                       ORDER BY md5('mix:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
                   ) AS rk
            FROM documents d
        )
        SELECT t.source,
               CAST(t.n AS BIGINT) AS n_docs,
               t.target_n,
               CAST(SUM(CASE WHEN r.rk <= t.target_n THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_selected
        FROM ranked r JOIN tgt t ON r.source = t.source
        GROUP BY t.source, t.n, t.target_n
    """,
    tags=("curation", "mixing", "temperature"),
)
def mix_temperature_sampling(spark, sf_dir):
    """Temperature-smoothed source mixing (the pretraining-recipe
    reweighting: sample source s proportional to count^alpha, alpha=0.5,
    total budget = half the corpus). Selection is the smallest md5
    deviates per source — deterministic, layout-independent, and
    replayable by the oracle; at 100 TB the weight table is
    sources-sized and the selection is one window per stratum."""
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    wsum = Window.partitionBy()
    total = counts.agg(F.sum("n").alias("total"))
    tgt = (
        counts.withColumn(
            "wt",
            F.pow(F.col("n"), _MIX_ALPHA)
            / F.sum(F.pow(F.col("n"), _MIX_ALPHA)).over(wsum),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n",
            # ROUND before FLOOR: wt comes from a float window-SUM whose
            # summation order differs between engines; a 1-ulp drift at an
            # integer boundary would flip FLOOR by 1.
            F.floor(F.round(F.col("wt") * _MIX_BUDGET * F.col("total"), 9))
            .cast("long")
            .alias("target_n"),
        )
    )
    rk = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        F.asc("doc_id"),
    )
    ranked = docs.select("source", "doc_id").withColumn(
        "rk", F.row_number().over(rk)
    )
    return (
        ranked.join(F.broadcast(tgt), "source")
        .groupBy("source", "n", "target_n")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("target_n"), 1).otherwise(0))
            .cast("long")
            .alias("n_selected")
        )
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            "target_n",
            "n_selected",
        )
    )


@register(
    "cur_quality_classifier",
    oracle="""
        WITH tok AS (
            SELECT doc_id, source,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS term
            FROM documents
        ),
        cnt AS (
            SELECT term,
                   SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS pos_c,
                   SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS neg_c
            FROM tok GROUP BY term
        ),
        st AS (
            SELECT SUM(pos_c) AS pos_n, SUM(neg_c) AS neg_n,
                   COUNT(*) AS v
            FROM cnt
        ),
        pr AS (
            SELECT ln(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) * 1.0
                      / SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END))
                       AS prior
            FROM documents
        ),
        sc AS (
            SELECT t.doc_id, t.source,
                   COUNT(*) AS n_tokens,
                   SUM(ln((c.pos_c + 1.0) / (st.pos_n + st.v))
                     - ln((c.neg_c + 1.0) / (st.neg_n + st.v))) AS s
            FROM tok t JOIN cnt c ON t.term = c.term, st
            GROUP BY t.doc_id, t.source
        )
        SELECT doc_id, source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(s + pr.prior, 4) AS quality_logodds,
               (ROUND(s + pr.prior, 4) > 0) AS quality_keep
        FROM sc, pr
    """,
    tags=("curation", "quality", "classifier", "training-data"),
)
def cur_quality_classifier(spark, sf_dir):
    """Classifier-based quality filtering — the GPT-3 / CCNet / LLaMA
    recipe step: train a multinomial Naive-Bayes two-class model
    (positive seed = the curated reference source ``src0``, negative =
    the rest) and score every document's log-odds of being
    reference-like; keep = rounded log-odds > 0. The identical
    token-log-ratio dataflow computes DSIR importance weights
    (target/raw log-probability ratios) — swap the class split for a
    target-domain split and the plan is unchanged.

    Scale shape: the trained model is VOCABULARY-sized (one row per
    term with two Laplace-smoothed counts) and broadcasts; scoring is
    explode -> broadcast join -> per-doc groupBy, i.e. two map-side-
    combinable shuffles (term, doc_id) and nothing quadratic. At 100 TB
    a web-scale vocab can outgrow the broadcast hint — drop the hint
    and let AQE pick the join, or frequency-floor the vocab first; the
    per-doc reduction is unchanged. Both engines round the float sum to
    4 decimals before the keep/drop compare so the label can't split on
    summation order."""
    from ..operators.curation import nb_quality_scores

    return nb_quality_scores(table(spark, sf_dir, "documents"))


def _bpe_oracle() -> str:
    """Relational replay of the BPE loop over DISTINCT token sequences
    with multiplicity (mirroring the engine's collapse — the doc-level
    replay materialized the full corpus token stream per step and OOM'd
    DuckDB at sf1): per step, multiplicity-weighted adjacent-pair
    counts via aligned parallel unnest + lead(), the (count DESC, a, b)
    argmax, and the disjoint mark-and-drop merge (equal to the engine's
    greedy fold because candidate pairs require a <> b — see
    operators/tokenizer.py's determinism contract)."""
    from ..operators.tokenizer import BPE_STEPS

    parts = [
        """
        WITH s0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY tok) AS sid, tok, mult
            FROM (
                SELECT list_filter(string_split(lower(text), ' '),
                                   t -> t <> '') AS tok,
                       CAST(COUNT(*) AS BIGINT) AS mult
                FROM documents
                WHERE len(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) > 0
                GROUP BY 1
            )
        )"""
    ]
    for k in range(1, BPE_STEPS + 1):
        p = k - 1
        parts.append(
            """
        , p{k} AS (
            SELECT sid, mult, unnest(tok) AS t,
                   unnest(range(1, len(tok) + 1)) AS pos
            FROM s{p}
        ), c{k} AS (
            SELECT mult, t AS a,
                   lead(t) OVER (PARTITION BY sid ORDER BY pos) AS b
            FROM p{k}
        ), b{k} AS (
            SELECT a, b, CAST(SUM(mult) AS BIGINT) AS cnt
            FROM c{k} WHERE b IS NOT NULL AND a <> b
            GROUP BY a, b
            ORDER BY cnt DESC, a, b LIMIT 1
        ), f{k} AS (
            SELECT sid, mult, pos, t,
                   (t = (SELECT a FROM b{k})
                    AND lead(t) OVER (PARTITION BY sid ORDER BY pos)
                        = (SELECT b FROM b{k})) AS start
            FROM p{k}
        ), m{k} AS (
            SELECT sid, mult, pos,
                   CASE WHEN start
                        THEN t || '_' || (SELECT b FROM b{k}) ELSE t END AS t,
                   lag(start, 1, false)
                       OVER (PARTITION BY sid ORDER BY pos) AS consumed
            FROM f{k}
        ), s{k} AS (
            SELECT sid, MIN(mult) AS mult, list(t ORDER BY pos) AS tok
            FROM m{k} WHERE NOT consumed GROUP BY sid
        )""".format(k=k, p=p)
        )
    selects = [
        """
        SELECT CAST({k} AS BIGINT) AS step,
               (SELECT a FROM b{k}) AS merge_a,
               (SELECT b FROM b{k}) AS merge_b,
               (SELECT cnt FROM b{k}) AS pair_count,
               (SELECT CAST(SUM(len(tok) * mult) AS BIGINT) FROM s{k})
                   AS corpus_tokens_after""".format(k=k)
        for k in range(1, BPE_STEPS + 1)
    ]
    return "".join(parts) + " UNION ALL ".join(selects)


@register(
    "tok_bpe_merges",
    oracle=_bpe_oracle(),
    tags=("tokenizer", "bpe", "lm", "training-data"),
)
def tok_bpe_merges(spark, sf_dir):
    """BPE merge induction (tokenizer TRAINING, not application): 3
    iterations of count-pairs -> argmax -> greedy merge over the corpus
    token sequences, emitting the learned merge table and the shrinking
    corpus token count. Per iteration: one map-side-combinable weighted
    pair count over DISTINCT sequences (multiplicity-collapsed, so step
    cost follows distinct content, not document count), a 1-row argmax
    control-plane scalar, and a per-row array fold — the corpus stays
    put; only the merge pair rides the control plane. The oracle
    replays the identical loop relationally (aligned unnest + lead/lag
    mark-and-drop), so a greedy-semantics bug on either side desyncs
    the merge table."""
    from ..operators.tokenizer import bpe_merge_steps

    return bpe_merge_steps(table(spark, sf_dir, "documents"))


@register(
    "cur_importance_resampling",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(string_split(lower(text), ' '),
                               t -> t <> '') AS l
            FROM documents
        ), bg AS (
            SELECT doc_id, source,
                   unnest(CASE WHEN len(l) >= 2
                          THEN list_transform(generate_series(1, len(l) - 1),
                                              i -> l[i] || ' ' || l[i + 1])
                          ELSE [] END) AS b
            FROM toks
        ), feat AS (
            SELECT doc_id, source,
                   CAST(('0x' || substr(md5('dsir:' || b), 1, 15)) AS BIGINT)
                       % 64 AS bkt
            FROM bg
        ), stats AS (
            SELECT bkt,
                   SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
                   COUNT(*) AS cr
            FROM feat GROUP BY bkt
        ), tot AS (
            SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM stats
        ), lr AS (
            SELECT bkt,
                   ln((ct + 1.0) / (tt + 64)) - ln((cr + 1.0) / (tr + 64))
                       AS logratio
            FROM stats, tot
        ), perdoc AS (
            SELECT f.doc_id, f.source,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   ROUND(SUM(lr.logratio), 4) AS dsir_logweight,
                   ROUND(SUM(lr.logratio)
                         - ln(-ln((CAST(('0x' || substr(md5('gum:' ||
                                 CAST(f.doc_id AS VARCHAR)), 1, 15))
                                 AS BIGINT) % 1000000 + 0.5) / 1000000.0)),
                         4) AS sample_key
            FROM feat f JOIN lr ON f.bkt = lr.bkt
            GROUP BY f.doc_id, f.source
        )
        SELECT doc_id, source, n_bigrams, dsir_logweight, sample_key
        FROM perdoc
        ORDER BY sample_key DESC, doc_id
        LIMIT 200
    """,
    tags=("curation", "dsir", "sampling", "training-data"),
)
def cur_importance_resampling(spark, sf_dir):
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023):
    hashed-n-gram importance weights + Gumbel-top-k resample. Features
    are word bigrams feature-hashed into 64 buckets (md5-derived so the
    oracle replays the hash bit-for-bit); the target distribution is
    the curated seed source ``src0``, the raw distribution is the whole
    corpus; a document's log importance weight is the sum over its
    bigram occurrences of the Laplace-smoothed bucket log-ratio
    ln(p_target/p_raw). Resampling keeps the top-k by logweight plus
    seeded Gumbel noise (-ln(-ln(u)), u md5-derived per doc) — the
    standard Gumbel-max reformulation of sampling proportional to
    exp(weight) without replacement, made oracle-replayable.

    The log-ratio dataflow is the same shape proven in
    cur_quality_classifier; what this entry adds is FEATURE HASHING
    (fixed 64-bucket model regardless of vocabulary — the piece that
    makes DSIR web-scale: the model is O(buckets), never O(vocab)) and
    the deterministic resample. Scale: bucket stats are two map-side-
    combinable aggs into 64 rows; the totals cross-join broadcasts one
    row; scoring re-joins on bucket (64-row broadcast); the top-k is a
    TakeOrderedAndProject. Docs with <2 tokens carry no bigram features
    and are excluded (no features = no importance evidence)."""
    docs = table(spark, sf_dir, "documents")
    t = F.expr(tokens("text"))

    def _bigrams(l):
        n = F.size(l)
        return F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat(
                    F.element_at(l, i), F.lit(" "), F.element_at(l, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    bg = docs.select(
        "doc_id",
        "source",
        F.explode(F.element_at(F.transform(F.array(t), _bigrams), 1)).alias("b"),
    )
    feat = bg.select(
        "doc_id",
        "source",
        (hash_deviate(F.col("b"), "dsir") % 64).alias("bkt"),
    )
    stats = feat.groupBy("bkt").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("ct"),
        F.count("*").alias("cr"),
    )
    tot = stats.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    lr = stats.crossJoin(F.broadcast(tot)).select(
        "bkt",
        (
            F.log((F.col("ct") + 1.0) / (F.col("tt") + 64))
            - F.log((F.col("cr") + 1.0) / (F.col("tr") + 64))
        ).alias("logratio"),
    )
    u = (hash_deviate(F.col("doc_id"), "gum") % 1000000 + 0.5) / 1000000.0
    return (
        feat.join(F.broadcast(lr), "bkt")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.sum("logratio"), 4).alias("dsir_logweight"),
            F.round(F.sum("logratio") - F.log(-F.log(u)), 4).alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(200)
    )


@register(
    "cur_perplexity_buckets",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS term
            FROM documents
        ), cnt AS (
            SELECT term, COUNT(*) AS c FROM tok GROUP BY term
        ), tot AS (
            SELECT SUM(c) AS n FROM cnt
        ), lp AS (
            SELECT term, ln(c * 1.0 / tot.n) AS logprob FROM cnt, tot
        ), perdoc AS (
            SELECT t.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   ROUND(-AVG(lp.logprob), 4) AS nll
            FROM tok t JOIN lp ON t.term = lp.term
            GROUP BY t.doc_id
        ), ranked AS (
            SELECT doc_id, n_tokens, nll,
                   ROW_NUMBER() OVER (ORDER BY nll, doc_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM perdoc
        )
        SELECT doc_id, n_tokens, nll,
               CAST((rn - 1) * 3 // n AS BIGINT) AS ppl_bucket,
               ((rn - 1) * 3 // n = 1) AS keep
        FROM ranked
    """,
    tags=("curation", "perplexity", "lm", "training-data"),
)
def cur_perplexity_buckets(spark, sf_dir):
    """CCNet-recipe perplexity filtering: score each document by its
    per-token negative log-likelihood under the corpus unigram LM (the
    txt_unigram_logprob dataflow), rank the corpus into perplexity
    terciles, and keep the MIDDLE one — CCNet's observation that the
    lowest-perplexity tercile is boilerplate/templates and the highest
    is noise; the middle is where training text lives. Bucket
    boundaries are integer rank arithmetic ((rn-1)*3 DIV n), never
    float quantile interpolation, so both engines cut identically.

    Scale shape: the LM is a vocabulary-sized broadcast; scoring is
    explode -> broadcast join -> per-doc agg (two map-side-combinable
    shuffles). The global rank uses the bucketed-rank rewrite of
    win_global_rank_ranged — rows range-bucket by a coarse NLL key,
    rank locally per bucket, and add prefix-summed bucket offsets (a
    window over bucket-count rows, not corpus rows) — the oracle IS
    the naive single-partition window, equal by construction."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(tokens("text"))).alias("term"))
    cnt = tok.groupBy("term").agg(F.count("*").alias("c"))
    # total token count attached via a window over the vocab-sized
    # frame (31 rows) — no 1-row crossJoin needed
    lp = cnt.withColumn(
        "logprob",
        F.log(F.col("c") / F.sum("c").over(Window.partitionBy())),
    ).select("term", "logprob")
    perdoc = (
        tok.join(F.broadcast(lp), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(-F.avg("logprob"), 4).alias("nll"),
        )
    )
    # bucketed global rank (win_global_rank_ranged device): coarse
    # ordered range key -> per-bucket counts -> prefix-sum offsets
    bkey = F.floor(F.col("nll") * 10).cast("long")
    wd = perdoc.withColumn("bkey", bkey)
    counts = wd.groupBy("bkey").agg(F.count("*").alias("bn"))
    woff = Window.orderBy("bkey").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bkey",
        F.coalesce(F.sum("bn").over(woff), F.lit(0)).alias("offset"),
        F.sum("bn").over(Window.partitionBy()).alias("n"),
    )
    wlocal = Window.partitionBy("bkey").orderBy("nll", "doc_id")
    ranked = (
        wd.withColumn("lrank", F.row_number().over(wlocal))
        .join(F.broadcast(offsets), "bkey")
        .withColumn("rn", F.col("offset") + F.col("lrank"))
    )
    # TRUE integer division (r10 advisor): float division + cast only
    # matches DuckDB's // below the ~4.5e15 IEEE threshold; `div` is
    # exact at any scale, matching the docstring's stated contract
    bucket = F.expr("CAST(((rn - 1) * 3) div n AS BIGINT)")
    return ranked.select(
        "doc_id",
        "n_tokens",
        "nll",
        bucket.alias("ppl_bucket"),
        (bucket == 1).alias("keep"),
    )


def _fertility_oracle() -> str:
    from .text_features_q import _BPE_PAT

    pat = _BPE_PAT.replace("'", "''")
    return f"""
        WITH d AS (
            SELECT lang,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                                        t -> t <> '')) AS BIGINT) AS n_words,
                   CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)
                       AS n_pretokens,
                   n_chars
            FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS n_words,
               CAST(SUM(n_pretokens) AS BIGINT) AS n_pretokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               ROUND(CAST(SUM(n_pretokens) AS DOUBLE) / SUM(n_words), 6)
                   AS fertility,
               ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_pretokens), 6)
                   AS chars_per_token
        FROM d GROUP BY lang
    """


@register(
    "cur_tokenizer_fertility",
    oracle=_fertility_oracle(),
    tags=("curation", "tokenizer", "multilingual", "training-data"),
)
def cur_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility profile — the multilingual
    mix-design stat (how many subword units a language's word costs
    decides its effective token budget; high-fertility languages burn
    budget faster, the standard argument for per-language sampling
    temperatures): whitespace words, GPT-2-style pretokens (the same
    Java/RE2-identical _BPE_PAT as txt_bpe_pretoken_stats, here over
    the DOCUMENTS corpus, keyed by its lang column), corpus chars, and
    the two ratios that matter — pretokens per word (fertility) and
    chars per pretoken (compression). All sums are exact integers;
    each ratio is ONE division, so both engines emit identical bits
    before the round.

    Scale shape: per-row regexp_extract_all + size inside whole-stage
    codegen (no explode — counting needs no token rows), then one
    map-side-combinable aggregate on the lang key. At 100 TB this is a
    single scan with a 5-key shuffle."""
    from .text_features_q import _BPE_PAT

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.size(F.expr(tokens("text"))).cast("long").alias("n_words"),
        F.size(
            F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0))
        ).cast("long").alias("n_pretokens"),
        "n_chars",
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_pretokens").cast("long").alias("n_pretokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.round(
            F.sum("n_pretokens").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_pretokens"), 6
        ).alias("chars_per_token"),
    )
