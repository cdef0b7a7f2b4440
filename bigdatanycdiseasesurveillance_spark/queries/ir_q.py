"""Information-retrieval tier: BM25 ranked search, edit-distance
near-dup pairs, and hopping-window aggregation.

The reference's search surface is embedding-cosine only
(chromadb_client.py:194-306); a lexical ranked-retrieval tier (BM25) is
what a production corpus needs beside it — and at 100 TB it is pure
explode -> groupBy: the postings shuffle once on the term key with
map-side combine, the df/avg-len side tables are vocabulary-sized
scalars that broadcast, and scoring is a per-row expression. The
Levenshtein tier catches typo-grade near-dups that token-set Jaccard
misses (token sets identical under reordering, edit distance is not);
blocking by (source, length bucket) keeps the pair space linear-ish
exactly like the Jaccard tier. Hopping windows are the batch twin of
streaming sliding windows: each row lands in exactly
window/slide = 2 groups, so the fan-out is a constant 2x explode, then
an ordinary partial-agg shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text_funcs import token_count, tokens
from ..operators.aggregations import cents
from ..operators.sampling import md5_long
from ..registry import register
from ..tables import table, values_dim

_BM25_K1 = 1.2
_BM25_B = 0.75
_QUERY_TERMS = ("data", "stream", "join")
_LEV_MAX = 5
_SLIDE_S = 3 * 3600
_WIN_S = 6 * 3600


@register(
    "search_bm25_topk",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS term
            FROM documents
        ),
        dl AS (
            SELECT doc_id,
                   len(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS doclen
            FROM documents
        ),
        stats AS (
            SELECT COUNT(*) AS n, AVG(doclen) AS avg_len FROM dl
        ),
        q AS (SELECT unnest(['data', 'stream', 'join']) AS term),
        dfq AS (
            SELECT t.term, COUNT(DISTINCT t.doc_id) AS df
            FROM tok t JOIN q ON t.term = q.term GROUP BY t.term
        ),
        tf AS (
            SELECT t.doc_id, t.term, COUNT(*) AS tf
            FROM tok t JOIN q ON t.term = q.term GROUP BY t.doc_id, t.term
        ),
        scored AS (
            SELECT tf.doc_id,
                   SUM(
                       ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                       * (tf.tf * ({_BM25_K1} + 1.0))
                       / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                          + {_BM25_B} * dl.doclen / stats.avg_len))
                   ) AS score
            FROM tf
            JOIN dfq ON tf.term = dfq.term
            JOIN dl ON dl.doc_id = tf.doc_id, stats
            GROUP BY tf.doc_id
        )
        SELECT doc_id, ROUND(score, 4) AS bm25
        FROM scored
        ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    tags=("search", "bm25", "ir"),
    bench=True,
)
def search_bm25_topk(spark, sf_dir):
    """Lexical ranked retrieval: Okapi BM25 (k1=1.2, b=0.75) top-10 for
    a fixed 3-term query. Postings from one explode; df and corpus
    stats are broadcast scalars; ranking is TakeOrdered."""
    # NOT checkpointed: the plan re-reads the corpus per derived
    # frame (postings twice, doclen twice), but those subtrees execute
    # as OVERLAPPING stages of one job; an interleaved A/B measured the
    # checkpointed one-pass-each variant slightly SLOWER (med 0.84 s vs
    # 0.80 s) because the two materializations run sequentially.
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(tokens("text"))).alias("term"))
    qterms = tok.filter(F.col("term").isin(*_QUERY_TERMS))
    dl = docs.select("doc_id", F.expr(token_count("text")).alias("doclen"))
    stats = dl.agg(
        F.count("*").alias("n"), F.avg("doclen").alias("avg_len")
    )
    dfq = qterms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    tf = qterms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("doclen") / F.col("avg_len")
    )
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


@register(
    "dedup_levenshtein_pairs",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, source, n_chars, text FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance
        FROM d a JOIN d b
          ON a.source = b.source
         AND a.n_chars // 20 = b.n_chars // 20
         AND a.doc_id < b.doc_id
        WHERE levenshtein(a.text, b.text) <= {_LEV_MAX}
    """,
    tags=("dedup", "editsim", "levenshtein"),
)
def dedup_levenshtein_pairs(spark, sf_dir):
    """Typo-grade near-dup pairs: exact edit distance <= 5 within
    (source, 20-char length bucket) blocks — the character-level tier
    token-set Jaccard cannot see (reordering preserves token sets but
    not edit distance). Two LOSSLESS prunes keep the blocked self-join
    from degenerating into quadratic O(L^2) edit-distance work (54 s ->
    ~2 s at sf0.1, identical rows — the oracle states pure semantics,
    pruning never changes the result):

    - length residual: |len(a) - len(b)| <= 5 is a lower bound on edit
      distance, and it prunes BEFORE text comparison;
    - thresholded levenshtein: the threshold arg makes Spark's kernel
      early-abandon at O(k*L) per pair instead of O(L^2), returning -1
      above the bound."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars",
        (F.col("n_chars") / 20).cast("long").alias("lb"),
    )
    a = d.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("s_a"),
        F.col("text").alias("t_a"), F.col("n_chars").alias("n_a"),
        F.col("lb").alias("lb_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("s_b"),
        F.col("text").alias("t_b"), F.col("n_chars").alias("n_b"),
        F.col("lb").alias("lb_b"),
    )
    lev = F.levenshtein("t_a", "t_b", _LEV_MAX)
    return (
        a.join(
            b,
            (F.col("s_a") == F.col("s_b"))
            & (F.col("lb_a") == F.col("lb_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("n_a") - F.col("n_b")) <= _LEV_MAX),
        )
        .withColumn("edit_distance", lev.cast("long"))
        .filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= _LEV_MAX))
        .select("id_a", "id_b", "edit_distance")
    )


@register(
    "dq_rowhash_checksum",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               bit_xor(CAST(('0x' || substr(md5(
                   CAST(event_id AS VARCHAR) || '|' ||
                   CAST(user_id AS VARCHAR) || '|' ||
                   CAST(epoch_us(ts) AS VARCHAR) || '|' ||
                   CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR)
               ), 1, 15)) AS BIGINT)) AS content_checksum
        FROM events GROUP BY event_type
    """,
    tags=("dq", "checksum", "audit"),
)
def dq_rowhash_checksum(spark, sf_dir):
    """Order-insensitive table content checksum: md5 row fingerprint
    XOR-folded per event_type — the migration-audit primitive that
    verifies a 100 TB copy (or an engine port: this repo vs the
    reference's store) without sorting or moving rows. XOR is
    commutative/associative and overflow-free, so partials merge
    map-side and the shuffle carries one 8-byte value per partition per
    group. Non-finite-safe: value is fixed to exact cents before
    hashing so float formatting can't desync the engines."""
    ev = table(spark, sf_dir, "events")
    fingerprint = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.unix_micros(F.col("ts")).cast("string"),
        F.expr(cents("value")).cast("string"),
    )
    h = md5_long(fingerprint)
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.bit_xor(h).alias("content_checksum"),
    )


@register(
    "agg_hopping_windows",
    oracle=f"""
        SELECT TIMESTAMP '1970-01-01 00:00:00'
                   + ((CAST(FLOOR(epoch(ts)) AS BIGINT) // {_SLIDE_S} - o.k)
                      * {_SLIDE_S}) * INTERVAL '1 second' AS win_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) o
        GROUP BY 1, 2
    """,
    tags=("agg", "window", "hopping", "ST7"),
)
def agg_hopping_windows(spark, sf_dir):
    """Hopping (sliding) event-time windows, batch form: 6-hour windows
    every 3 hours — each event lands in exactly window/slide = 2
    groups. Spark's window() explodes the assignment map-side, then
    it's an ordinary partial-agg shuffle on (window, type)."""
    return hopping_counts(table(spark, sf_dir, "events"))


def hopping_counts(events):
    """(win_start, event_type, cnt) over 6-hour windows every 3 hours;
    the frame of agg_hopping_windows and, over the watermarked event
    stream, of stream_hopping_counts."""
    return (
        events.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"), "event_type"
        )
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(F.col("w.start").alias("win_start"), "event_type", "cnt")
    )


@register(
    "cur_winsorize_values",
    oracle="""
        WITH th AS (
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.01), 6) AS lo,
                   ROUND(quantile_cont(value, 0.99), 6) AS hi
            FROM events GROUP BY 1
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(CAST(SUM(CAST(e.value AS DECIMAL(16,6))) AS DOUBLE)
                          / COUNT(*), 4) AS DOUBLE) AS mean_raw,
               CAST(ROUND(CAST(SUM(LEAST(GREATEST(
                              CAST(e.value AS DECIMAL(16,6)),
                              CAST(th.lo AS DECIMAL(16,6))),
                              CAST(th.hi AS DECIMAL(16,6)))) AS DOUBLE)
                          / COUNT(*), 4) AS DOUBLE) AS mean_winsorized,
               CAST(SUM(CASE WHEN e.value < th.lo OR e.value > th.hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        FROM events e JOIN th USING (event_type)
        GROUP BY 1
    """,
    tags=("curation", "winsorize", "outliers"),
)
def cur_winsorize_values(spark, sf_dir):
    """Outlier winsorization: clip value to the exact per-type
    [p1, p99] band (linear-interpolated percentiles, rounded to 6 on
    BOTH engines before clipping so a last-bit threshold difference
    can't flip a boundary row). The thresholds table is types-sized and
    broadcasts; the fact is scanned once for thresholds and once for
    the clipped aggregate - at 100 TB swap the exact percentile for
    percentile_approx and the second scan stays identical."""
    ev = table(spark, sf_dir, "events")
    th = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.01)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("hi"),
    )
    # decimal accumulation for the means: values are exact 6dp decimals
    # after clipping, and a DOUBLE sum's order-dependent last bits can
    # flip a 4dp-half boundary run to run (an sf1 audit's bug class)
    clipped_dec = F.least(
        F.greatest(
            F.col("value").cast("decimal(16,6)"), F.col("lo").cast("decimal(16,6)")
        ),
        F.col("hi").cast("decimal(16,6)"),
    )
    out_of_band = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        ev.join(F.broadcast(th), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(16,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_raw"),
            F.round(
                F.sum(clipped_dec).cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_winsorized"),
            F.sum(F.when(out_of_band, 1).otherwise(0)).cast("long").alias("n_clipped"),
        )
    )


@register(
    "txt_keyword_context",
    oracle="""
        WITH hits AS (
            SELECT doc_id, lang,
                   strpos(lower(text), 'stream') AS pos,
                   lower(text) AS lt,
                   length(text) AS n
            FROM documents
            WHERE strpos(lower(text), 'stream') > 0
        )
        SELECT doc_id, lang,
               CAST(pos AS BIGINT) AS pos,
               substr(lt, GREATEST(1, pos - 20),
                      (pos + 6 + 20) - GREATEST(1, pos - 20)) AS context
        FROM hits
    """,
    tags=("text", "kwic", "ir"),
)
def txt_keyword_context(spark, sf_dir):
    """Keyword-in-context (KWIC) extraction: the +-20-char window
    around the first occurrence of a keyword, per matching document —
    the corpus-inspection primitive behind every 'show me how this term
    is used' review queue. Pure substring arithmetic, one scan, no
    shuffle at all (the filter prunes non-matching docs at the scan)."""
    kw, klen, ctx = "stream", 6, 20
    docs = table(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    hits = docs.select(
        "doc_id", "lang", F.locate(kw, lt).alias("pos"), lt.alias("lt")
    ).filter(F.col("pos") > 0)
    start = F.greatest(F.lit(1), F.col("pos") - ctx)
    length = (F.col("pos") + klen + ctx) - start
    return hits.select(
        "doc_id",
        "lang",
        F.col("pos").cast("long").alias("pos"),
        F.substring(F.col("lt"), start, length).alias("context"),
    )



_RERANK_K = 50
_RERANK_QUERY = "data stream join"

# the WITH ... scored body shared with search_bm25_topk's oracle, kept
# as one literal so the two stay in lock step
_BM25_SQL_BODY = f"""WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS term
            FROM documents
        ),
        dl AS (
            SELECT doc_id,
                   len(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS doclen
            FROM documents
        ),
        stats AS (
            SELECT COUNT(*) AS n, AVG(doclen) AS avg_len FROM dl
        ),
        q AS (SELECT unnest(['data', 'stream', 'join']) AS term),
        dfq AS (
            SELECT t.term, COUNT(DISTINCT t.doc_id) AS df
            FROM tok t JOIN q ON t.term = q.term GROUP BY t.term
        ),
        tf AS (
            SELECT t.doc_id, t.term, COUNT(*) AS tf
            FROM tok t JOIN q ON t.term = q.term GROUP BY t.doc_id, t.term
        ),
        scored AS (
            SELECT tf.doc_id,
                   SUM(
                       ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                       * (tf.tf * ({_BM25_K1} + 1.0))
                       / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                          + {_BM25_B} * dl.doclen / stats.avg_len))
                   ) AS score
            FROM tf
            JOIN dfq ON tf.term = dfq.term
            JOIN dl ON dl.doc_id = tf.doc_id, stats
            GROUP BY tf.doc_id
        )"""


def _rerank_oracle() -> str:
    from ..operators.rerank import ce_sql

    return f"""
        {_BM25_SQL_BODY},
        cand AS (
            SELECT doc_id, bm25 FROM (
                SELECT doc_id, ROUND(score, 4) AS bm25 FROM scored
            ) ORDER BY bm25 DESC, doc_id LIMIT {_RERANK_K}
        ),
        mm AS (SELECT MIN(bm25) AS mn, MAX(bm25) AS mx FROM cand),
        blended AS (
            SELECT c.doc_id, c.bm25,
                   ROUND({ce_sql(_RERANK_QUERY, "c.doc_id")}, 6) AS ce_score,
                   ROUND(0.5 * CASE WHEN m.mx > m.mn
                                    THEN (c.bm25 - m.mn) / (m.mx - m.mn)
                                    ELSE 1.0 END
                         + 0.5 * ROUND({ce_sql(_RERANK_QUERY, "c.doc_id")}, 6), 6)
                       AS final_score
            FROM cand c, mm m
        )
        SELECT doc_id, bm25, ce_score, final_score
        FROM blended
        ORDER BY final_score DESC, doc_id LIMIT 10
    """


def _bm25_scored(spark, sf_dir):
    """Shared BM25 scoring frame (doc_id, bm25) — stage 1 of the
    two-stage retrieval pipeline; identical math to search_bm25_topk."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(tokens("text"))).alias("term"))
    qterms = tok.filter(F.col("term").isin(*_QUERY_TERMS))
    dl = docs.select("doc_id", F.expr(token_count("text")).alias("doclen"))
    stats = dl.agg(F.count("*").alias("n"), F.avg("doclen").alias("avg_len"))
    dfq = qterms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    tf = qterms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("doclen") / F.col("avg_len")
    )
    return (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom).alias("score"))
        .select("doc_id", F.round("score", 4).alias("bm25"))
    )


@register(
    "search_rerank_2stage",
    oracle=_rerank_oracle(),
    tags=("search", "rerank", "ir", "llm-prep"),
)
def search_rerank_2stage(spark, sf_dir):
    """Two-stage retrieval: BM25 top-50 candidate generation (corpus-
    wide, cheap) -> cross-encoder rerank on the 50 survivors only ->
    blend 0.5 * minmax-normalized BM25 + 0.5 * CE score, final top-10.
    The CE stage is the model-bearing mapInPandas pattern (per-worker
    singleton; deterministic md5 stand-in in this container) and the
    stand-in is replayed exactly by the oracle, so both stages are
    value-checked. At 100 TB the reranker's cost is K rows per query
    regardless of corpus size — that is the entire point of the
    pattern."""
    from ..operators.rerank import cross_encoder_scores

    cand = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_RERANK_K)
    )
    scored = cross_encoder_scores(cand, _RERANK_QUERY)
    mm = scored.agg(F.min("bm25").alias("mn"), F.max("bm25").alias("mx"))
    norm = F.when(
        F.col("mx") > F.col("mn"),
        (F.col("bm25") - F.col("mn")) / (F.col("mx") - F.col("mn")),
    ).otherwise(F.lit(1.0))
    ce_r = F.round(F.col("ce_score"), 6)
    return (
        scored.crossJoin(F.broadcast(mm))
        .select(
            "doc_id",
            "bm25",
            ce_r.alias("ce_score"),
            F.round(0.5 * norm + 0.5 * ce_r, 6).alias("final_score"),
        )
        .orderBy(F.desc("final_score"), F.asc("doc_id"))
        .limit(10)
    )


_RM3_FB_DOCS = 10
_RM3_EXP_TERMS = 5


@register(
    "search_rm3_expansion",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS term
            FROM documents
        ),
        dl AS (
            SELECT doc_id,
                   len(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS doclen
            FROM documents
        ),
        stats AS (
            SELECT COUNT(*) AS n, AVG(doclen) AS avg_len FROM dl
        ),
        q AS (SELECT unnest(['data', 'stream', 'join']) AS term),
        dfq AS (
            SELECT t.term, COUNT(DISTINCT t.doc_id) AS df
            FROM tok t JOIN q ON t.term = q.term GROUP BY t.term
        ),
        tf AS (
            SELECT t.doc_id, t.term, COUNT(*) AS tf
            FROM tok t JOIN q ON t.term = q.term GROUP BY t.doc_id, t.term
        ),
        scored AS (
            SELECT tf.doc_id,
                   SUM(
                       ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                       * (tf.tf * ({_BM25_K1} + 1.0))
                       / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                          + {_BM25_B} * dl.doclen / stats.avg_len))
                   ) AS score
            FROM tf
            JOIN dfq ON tf.term = dfq.term
            JOIN dl ON dl.doc_id = tf.doc_id, stats
            GROUP BY tf.doc_id
        ),
        fb AS (
            SELECT doc_id FROM scored
            ORDER BY ROUND(score, 4) DESC, doc_id LIMIT {_RM3_FB_DOCS}
        ),
        exp_terms AS (
            SELECT t.term FROM tok t JOIN fb USING (doc_id)
            WHERE t.term NOT IN (SELECT term FROM q)
            GROUP BY t.term
            ORDER BY COUNT(*) DESC, t.term LIMIT {_RM3_EXP_TERMS}
        ),
        q2 AS (
            SELECT term FROM q UNION SELECT term FROM exp_terms
        ),
        dfq2 AS (
            SELECT t.term, COUNT(DISTINCT t.doc_id) AS df
            FROM tok t JOIN q2 ON t.term = q2.term GROUP BY t.term
        ),
        tf2 AS (
            SELECT t.doc_id, t.term, COUNT(*) AS tf
            FROM tok t JOIN q2 ON t.term = q2.term GROUP BY t.doc_id, t.term
        ),
        scored2 AS (
            SELECT tf2.doc_id,
                   SUM(
                       ln((stats.n - dfq2.df + 0.5) / (dfq2.df + 0.5) + 1.0)
                       * (tf2.tf * ({_BM25_K1} + 1.0))
                       / (tf2.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                          + {_BM25_B} * dl.doclen / stats.avg_len))
                   ) AS score
            FROM tf2
            JOIN dfq2 ON tf2.term = dfq2.term
            JOIN dl ON dl.doc_id = tf2.doc_id, stats
            GROUP BY tf2.doc_id
        )
        SELECT doc_id, ROUND(score, 4) AS bm25
        FROM scored2
        ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    tags=("search", "bm25", "rm3", "prf", "ir"),
)
def search_rm3_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion (RM3-style, tf-based):
    BM25 first pass -> top-10 feedback docs -> the 5 most frequent
    non-query terms in the feedback set join the query -> full BM25
    re-score with the expanded term set. Expansion selection uses exact
    INTEGER term counts (not float relevance-model weights) so the
    chosen term set can never flip on a summation-order ulp — the
    engine/oracle boundary discipline the float-weight form lacks.
    Scale: two ranked-retrieval passes over the same postings explode;
    the feedback set and expansion terms are k-row broadcasts; df/tf
    shuffles are term-keyed partial aggregations."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(tokens("text"))).alias("term"))
    dl = docs.select("doc_id", F.expr(token_count("text")).alias("doclen"))
    stats = dl.agg(F.count("*").alias("n"), F.avg("doclen").alias("avg_len"))

    def bm25_scores(qterm_df):
        qt = tok.join(F.broadcast(qterm_df), "term")
        dfq = qt.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
        tf = qt.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        idf = F.log(
            (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        denom = F.col("tf") + _BM25_K1 * (
            1.0 - _BM25_B + _BM25_B * F.col("doclen") / F.col("avg_len")
        )
        return (
            tf.join(F.broadcast(dfq), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(
                F.sum(
                    idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom
                ).alias("score")
            )
        )

    q0 = values_dim(
        spark, [(t,) for t in _QUERY_TERMS], "term string"
    )
    fb = (
        bm25_scores(q0)
        .orderBy(F.desc(F.round("score", 4)), F.asc("doc_id"))
        .limit(_RM3_FB_DOCS)
        .select("doc_id")
    )
    exp_terms = (
        tok.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("term").isin(*_QUERY_TERMS))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(_RM3_EXP_TERMS)
        .select("term")
    )
    q2 = q0.unionByName(exp_terms).distinct()
    return (
        bm25_scores(q2)
        .select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )
