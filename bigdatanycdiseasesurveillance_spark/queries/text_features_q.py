"""Corpus-level text features: TF-IDF salient terms, bigram PMI
collocations, and EWMA smoothing of the daily volume series — the
feature-extraction tier of a pretraining-data pipeline (term salience
for domain tagging, collocation mining for tokenizer/vocab decisions,
smoothed volume for drift monitors).

Scale notes: both term queries are explode -> groupBy pipelines — the
token stream shuffles once on the term key with map-side combine, and
the document-frequency / unigram side tables are vocabulary-sized, so
they broadcast; nothing is ever quadratic in corpus size. EWMA runs on
the already-aggregated daily series (days x types rows, microscopic
next to the raw events), one window shuffle on event_type; the
14-day lookback is a RANGE frame, so day gaps weight by true day
distance rather than row offset.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import table
from ..functions.text_funcs import tokens

_TOP_TERMS = 5
_MIN_PAIR = 5
_EWMA_DECAY = 0.7  # weight (1-alpha)^lag with alpha = 0.3
_EWMA_DAYS = 13  # RANGE lookback: current day plus 13 preceding


@register(
    "txt_tfidf_top_terms",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, source,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS term
            FROM documents
        ),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        tf AS (SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY source, term),
        s AS (
            SELECT t.source, t.term,
                   CAST(t.tf AS BIGINT) AS n_occurrences,
                   ROUND(t.tf * ln(n.n * 1.0 / d.df), 4) AS tfidf
            FROM tf t JOIN dfq d ON t.term = d.term, n
        )
        SELECT source, term, n_occurrences, tfidf
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY tfidf DESC, term) AS rk
            FROM s
        )
        WHERE rk <= {_TOP_TERMS}
    """,
    tags=("text", "tfidf", "features"),
)
def txt_tfidf_top_terms(spark, sf_dir):
    """Top-5 salient terms per source by TF-IDF (tf x ln(N/df), ranked
    on the rounded score with a term tie-break so both engines pick
    identical winners). The exploded token stream shuffles once per
    grouping; document frequency is a vocabulary-sized table joined by
    broadcast, and N is a one-row broadcast — the corpus itself is
    touched exactly twice (tf pass, df pass), both map-side combined."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.explode(F.expr(tokens("text"))).alias("term"))
    n = d.agg(F.countDistinct("doc_id").alias("n"))
    dfq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    tf = tok.groupBy("source", "term").agg(F.count("*").alias("tf"))
    s = (
        tf.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "term",
            F.col("tf").cast("long").alias("n_occurrences"),
            F.round(
                F.col("tf") * F.log(F.col("n") * F.lit(1.0) / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOP_TERMS)
        .drop("rk")
    )


@register(
    "txt_bigram_pmi",
    oracle=f"""
        WITH toks AS (
            SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
            FROM documents
        ),
        big AS (
            SELECT u.x, u.y FROM (
                SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                              i -> {{'x': toks[i], 'y': toks[i + 1]}})) AS u
                FROM toks
            )
        ),
        uni AS (
            SELECT term, COUNT(*) AS cx FROM (
                SELECT unnest(toks) AS term FROM toks
            ) GROUP BY term
        ),
        t1 AS (SELECT SUM(cx) AS t1 FROM uni),
        pairs AS (SELECT x, y, COUNT(*) AS cxy FROM big GROUP BY x, y),
        t2 AS (SELECT SUM(cxy) AS t2 FROM pairs)
        SELECT p.x, p.y,
               CAST(p.cxy AS BIGINT) AS n_pairs,
               (p.cxy * 1.0 * t1.t1 * t1.t1)
                   / (t2.t2 * 1.0 * ux.cx * uy.cx) AS lift
        FROM pairs p
        JOIN uni ux ON p.x = ux.term
        JOIN uni uy ON p.y = uy.term, t1, t2
        WHERE p.cxy >= {_MIN_PAIR}
    """,
    tags=("text", "pmi", "collocation"),
)
def txt_bigram_pmi(spark, sf_dir):
    """Bigram collocation strength: lift = (c_xy/T2) / ((c_x/T1)(c_y/T1)),
    the rational inside PMI (PMI = ln(lift), a monotone transform — so
    ranking by lift IS ranking by PMI). Emitting the raw left-associated
    division keeps both engines on the identical IEEE double (a rounded
    ln flips at 4-dp boundaries when libm implementations differ by an
    ulp). Adjacent-token pairs come from an index transform over the
    token array (no self-join on position), pair and unigram counts
    are map-side-combined groupBys, and the unigram table broadcasts —
    per-corpus cost is two exploded passes, nothing quadratic."""
    d = table(spark, sf_dir, "documents").select(F.expr(tokens("text")).alias("toks"))
    big = (
        d.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(element_at(toks, i) AS x,"
                    " element_at(toks, i + 1) AS y))"
                )
            ).alias("b")
        )
        .select("b.x", "b.y")
    )
    uni = d.select(F.explode("toks").alias("term")).groupBy("term").agg(
        F.count("*").alias("cx")
    )
    t1 = uni.agg(F.sum("cx").alias("t1"))
    pairs = big.groupBy("x", "y").agg(F.count("*").alias("cxy"))
    t2 = pairs.agg(F.sum("cxy").alias("t2"))
    ux = uni.select(F.col("term").alias("x"), F.col("cx").alias("cx_x"))
    uy = uni.select(F.col("term").alias("y"), F.col("cx").alias("cx_y"))
    return (
        pairs.filter(F.col("cxy") >= _MIN_PAIR)
        .join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            "x",
            "y",
            F.col("cxy").cast("long").alias("n_pairs"),
            (
                (F.col("cxy") * F.lit(1.0) * F.col("t1") * F.col("t1"))
                / (F.col("t2") * F.lit(1.0) * F.col("cx_x") * F.col("cx_y"))
            ).alias("lift"),
        )
    )


@register(
    "win_ewma_smooth",
    oracle=f"""
        WITH s AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   date_diff('day', DATE '2024-01-01',
                             CAST(date_trunc('day', ts) AS DATE)) AS de,
                   COUNT(*) AS x
            FROM events
            GROUP BY 1, 2, 3
        )
        SELECT a.event_type, a.day,
               CAST(a.x AS BIGINT) AS n_events,
               ROUND(SUM(b.x * POWER({_EWMA_DECAY}, a.de - b.de))
                     / SUM(POWER({_EWMA_DECAY}, a.de - b.de)), 4) AS ewma
        FROM s a JOIN s b
          ON a.event_type = b.event_type
         AND b.de BETWEEN a.de - {_EWMA_DAYS} AND a.de
        GROUP BY a.event_type, a.day, a.x
    """,
    tags=("window", "ewma", "timeseries"),
)
def win_ewma_smooth(spark, sf_dir):
    """Exponentially-weighted moving average of the daily event volume
    per type, 14-day lookback, weight (1-alpha)^lag with the lag in
    true day distance (RANGE frame over the epoch-day, so calendar
    gaps decay correctly — a ROWS frame would not). The Spark plan is
    one window over the tiny pre-aggregated series with a
    higher-order-function weighted sum over the collected frame — no
    self-join, no second shuffle; the oracle runs the equivalent
    bounded-range self-join."""
    e = table(spark, sf_dir, "events")
    s = (
        e.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.count("*").alias("x"))
        .withColumn("de", F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("de")
        .rangeBetween(-_EWMA_DAYS, 0)
    )
    frame = F.collect_list(F.struct("de", "x")).over(w)
    num = F.aggregate(
        frame,
        F.lit(0.0),
        lambda acc, r: acc
        + r["x"] * F.pow(F.lit(_EWMA_DECAY), F.col("de") - r["de"]),
    )
    den = F.aggregate(
        frame,
        F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(_EWMA_DECAY), F.col("de") - r["de"]),
    )
    return s.select(
        "event_type",
        "day",
        F.col("x").cast("long").alias("n_events"),
        F.round(num / den, 4).alias("ewma"),
    )


@register(
    "txt_distinct_ngrams",
    oracle="""
        WITH t AS (
            SELECT source,
                   list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
            FROM documents
        ), grams AS (
            SELECT source, n.n,
                   unnest(CASE WHEN len(tok) >= n.n
                               THEN list_transform(range(len(tok) - n.n + 1),
                                    i -> array_to_string(list_slice(tok, i + 1, i + n.n), ' '))
                               ELSE [] END) AS g
            FROM t CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) n
        )
        SELECT source, CAST(n AS INTEGER) AS n,
               CAST(COUNT(*) AS BIGINT) AS total_ngrams,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_ngrams,
               ROUND(CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6) AS distinct_ratio
        FROM grams GROUP BY 1, 2
    """,
    tags=("text", "diversity", "llm-prep"),
)
def txt_distinct_ngrams(spark, sf_dir):
    """Corpus diversity (distinct-n): per source and n in {1,2,3}, the
    ratio of distinct n-grams to total n-grams — the standard text-
    degeneration / mode-collapse metric run over a corpus before it is
    admitted to a training mix. One explode -> groupBy per n over the
    same tokenized scan; distinct counting shuffles on the gram key
    with map-side partials."""
    t = table(spark, sf_dir, "documents").select(
        "source", F.expr(tokens("text")).alias("tok")
    )
    per_n = []
    for n in (1, 2, 3):
        grams = t.select(
            "source",
            F.explode(
                F.when(
                    F.size("tok") >= n,
                    F.transform(
                        F.sequence(F.lit(0), F.size("tok") - n),
                        lambda i: F.array_join(F.slice("tok", i + 1, n), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g"),
        ).withColumn("n", F.lit(n).cast("int"))
        per_n.append(grams)
    allg = per_n[0].unionByName(per_n[1]).unionByName(per_n[2])
    return allg.groupBy("source", "n").agg(
        F.count("*").cast("long").alias("total_ngrams"),
        F.countDistinct("g").cast("long").alias("distinct_ngrams"),
        F.round(F.countDistinct("g") / F.count("*"), 6).alias("distinct_ratio"),
    )


@register(
    "txt_zipf_slope",
    oracle="""
        WITH t AS (
            SELECT source,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS tok
            FROM documents
        ), freq AS (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
            FROM t GROUP BY 1, 2
        ), ranked AS (
            SELECT source, f,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY f DESC, tok) AS r
            FROM freq
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               ROUND(regr_slope(ln(CAST(f AS DOUBLE)),
                                ln(CAST(r AS DOUBLE))), 4) AS zipf_slope
        FROM ranked GROUP BY 1
    """,
    tags=("text", "zipf", "profiling"),
)
def txt_zipf_slope(spark, sf_dir):
    """Zipf-law profiling: per source, the OLS slope of log(frequency)
    on log(rank) over the token frequency table (natural text sits near
    -1; a flat or cliff-shaped slope flags boilerplate or template
    spam — a standard corpus admission check). Token counts shuffle
    once on (source, token); the regression is regr_slope over the
    vocabulary-sized ranked table."""
    t = table(spark, sf_dir, "documents").select(
        "source", F.explode(F.expr(tokens("text"))).alias("tok")
    )
    freq = t.groupBy("source", "tok").agg(F.count("*").cast("long").alias("f"))
    w = Window.partitionBy("source").orderBy(F.desc("f"), F.asc("tok"))
    ranked = freq.withColumn("r", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("vocab"),
        F.round(
            F.regr_slope(F.log(F.col("f").cast("double")), F.log(F.col("r").cast("double"))),
            4,
        ).alias("zipf_slope"),
    )


_SG_MIN = 5


@register(
    "txt_skipgram_cooc",
    oracle=f"""
        WITH t AS (
            SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
            FROM documents
        ), grams AS (
            SELECT o.o AS "offset",
                   unnest(list_transform(range(len(tok) - o.o),
                          i -> tok[i + 1] || ' ' || tok[i + 1 + o.o])) AS pair
            FROM t CROSS JOIN (SELECT CAST(unnest([1, 2]) AS INTEGER) AS o) o
            WHERE len(tok) > o.o
        )
        SELECT split_part(pair, ' ', 1) AS w1,
               split_part(pair, ' ', 2) AS w2,
               "offset",
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM grams
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= {_SG_MIN}
    """,
    tags=("text", "skipgram", "llm-prep"),
)
def txt_skipgram_cooc(spark, sf_dir):
    """Skip-gram co-occurrence counts (offsets 1 and 2) — the sparse
    co-occurrence matrix word-vector/PMI pipelines start from.
    Zero-join formulation: pairs are built inside each token array with
    transform+element_at (no positional self-join), then one explode ->
    groupBy with map-side combine. Cut at count >= {_SG_MIN} like the
    PMI query."""
    t = table(spark, sf_dir, "documents").select(F.expr(tokens("text")).alias("tok"))

    def pair_lambda(off):
        # single-parameter lambda: a two-arg lambda would be read by
        # F.transform as (element, index) and silently rebind both names
        return lambda i: F.concat(
            F.get(F.col("tok"), i), F.lit(" "), F.get(F.col("tok"), i + off)
        )

    parts = []
    for o in (1, 2):
        pairs = (
            t.filter(F.size("tok") > o)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("tok") - 1 - o),
                        pair_lambda(o),
                    )
                ).alias("pair")
            )
            .withColumn("offset", F.lit(o).cast("int"))
        )
        parts.append(pairs)
    allp = parts[0].unionByName(parts[1])
    return (
        allp.groupBy("pair", "offset")
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= _SG_MIN)
        .select(
            F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("w2"),
            "offset",
            "cnt",
        )
    )


# GPT-2-style pretokenizer, restricted to the regex subset Java (Spark)
# and RE2 (DuckDB) tokenize IDENTICALLY: contractions, space-prefixed
# letter runs, space-prefixed digit runs, punctuation runs, space runs.
# (The original pattern's \s+(?!\S) lookahead is RE2-unsupported and is
# subsumed here by the trailing branches.)
_BPE_PAT = r"'(?:s|d|m|t|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"


@register(
    "txt_bpe_pretoken_stats",
    oracle=f"""
        WITH toks AS (
            SELECT event_type,
                   unnest(regexp_extract_all(props,
                          '{_BPE_PAT.replace("'", "''")}')) AS tok
            FROM events
        ), counts AS (
            SELECT event_type, tok, COUNT(*) AS cnt
            FROM toks GROUP BY 1, 2
        ), top AS (
            SELECT event_type, tok AS top_pretoken, cnt AS top_cnt
            FROM counts
            QUALIFY row_number() OVER (
                PARTITION BY event_type ORDER BY cnt DESC, tok) = 1
        )
        SELECT c.event_type,
               CAST(SUM(c.cnt) AS BIGINT) AS total_pretokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               MIN(t.top_pretoken) AS top_pretoken,
               CAST(MIN(t.top_cnt) AS BIGINT) AS top_cnt
        FROM counts c JOIN top t USING (event_type)
        GROUP BY c.event_type
    """,
    tags=("text", "tokenizer", "bpe", "llm-prep"),
)
def txt_bpe_pretoken_stats(spark, sf_dir):
    """BPE-style pretokenization (the GPT-2 pretokenizer regex,
    restricted to the Java/RE2-identical subset) over the JSON props
    payloads — the token-count estimator an LLM-data pipeline runs
    before committing to a real BPE pass: contractions, space-glued
    word/digit runs, punctuation runs. Per event type: total and
    distinct pretokens plus the modal pretoken (deterministic
    tie-break). All-integer outputs; one explode + two term-keyed
    aggregations, whole-stage codegen (regexp_extract_all is
    JVM-native — the brief's 'BPE-ish regex' token counter without a
    Python tokenizer in the scan path)."""
    ev = table(spark, sf_dir, "events")
    toks = ev.select(
        "event_type",
        F.explode(
            F.regexp_extract_all("props", F.lit(_BPE_PAT), F.lit(0))
        ).alias("tok"),
    )
    counts = toks.groupBy("event_type", "tok").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("tok"))
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("tok").alias("top_pretoken"),
            F.col("cnt").alias("top_cnt"),
        )
    )
    return (
        counts.groupBy("event_type")
        .agg(
            F.sum("cnt").cast("long").alias("total_pretokens"),
            F.count("*").cast("long").alias("n_distinct"),
        )
        .join(F.broadcast(top), "event_type")
        .select(
            "event_type",
            "total_pretokens",
            "n_distinct",
            "top_pretoken",
            F.col("top_cnt").cast("long").alias("top_cnt"),
        )
    )
