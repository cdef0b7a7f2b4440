"""Corpus-curation query tier: decontamination, domain quotas,
repetition quality, exact unblocked similarity join, embedding
quantization, and session windows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.aggregations import exact_sum
from ..registry import register
from ..streaming.pipelines import _run_to_memory, stream_table
from ..tables import table

# Shared DuckDB CTE: tokens, and n-token shingles via list_slice.
_TOK_CTE = """
    WITH toks AS (
        SELECT doc_id, source, n_chars,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS tok
        FROM documents
    )
"""


def _shingle_sql(n: int) -> str:
    """DuckDB n-token shingle list over `tok` (empty when too short)."""
    return f"""
        CASE WHEN len(tok) >= {n}
             THEN list_transform(range(1, len(tok) - {n - 1} + 1),
                    i -> array_to_string(
                         list_slice(tok, CAST(i AS INTEGER),
                                    CAST(i + {n - 1} AS INTEGER)), ' '))
             ELSE [] END
    """


_BENCH_MOD = 23  # doc_id % 23 == 0 plays the benchmark corpus


@register(
    "cur_decontaminate",
    oracle=_TOK_CTE
    + f"""
        , sh AS (
            SELECT doc_id, unnest(list_distinct({_shingle_sql(5)})) AS s
            FROM toks
        ), bench AS (
            SELECT doc_id AS b_id, s FROM sh WHERE doc_id % {_BENCH_MOD} = 0
        ), corpus AS (
            SELECT doc_id AS c_id, s FROM sh WHERE doc_id % {_BENCH_MOD} <> 0
        )
        SELECT c_id AS doc_id,
               CAST(COUNT(DISTINCT s) AS BIGINT) AS n_hit_shingles,
               CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_bench_docs
        FROM corpus JOIN bench USING (s)
        GROUP BY c_id
    """,
    tags=("curation", "decontamination", "training-data"),
)
def cur_decontaminate(spark, sf_dir):
    """Test-set decontamination: flag corpus docs sharing any 5-token
    shingle with the (synthetic) benchmark split. Shingle equi-join
    with the tiny benchmark side broadcast — linear in corpus shingles,
    never corpus x benchmark."""
    from ..operators.curation import decontaminate

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % _BENCH_MOD == 0)
    corpus = d.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return decontaminate(corpus, bench)


_CAP = 15


@register(
    "cur_domain_cap",
    oracle=f"""
        WITH ranked AS (
            SELECT source, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(('0x' || substr(md5('cap:' ||
                                 CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                                doc_id) AS r
            FROM documents
        )
        SELECT source,
               CAST(SUM(CASE WHEN r <= {_CAP} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(SUM(CASE WHEN r > {_CAP} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
               CAST(SUM(CASE WHEN r <= {_CAP} THEN n_chars ELSE 0 END) AS BIGINT)
                   AS kept_chars
        FROM ranked
        GROUP BY source
    """,
    tags=("curation", "sampling", "training-data"),
)
def cur_domain_cap(spark, sf_dir):
    """Per-domain quota: keep at most N docs per source, chosen by a
    deterministic md5 deviate (stable across layouts/cluster sizes).
    One shuffle on the domain key."""
    from ..operators.curation import cap_per_domain

    d = cap_per_domain(table(spark, sf_dir, "documents"), cap=_CAP)
    return d.groupBy("source").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )


@register(
    "txt_repetition_signals",
    oracle=_TOK_CTE
    + f"""
        , g AS (
            SELECT doc_id, {_shingle_sql(2)} AS gr FROM toks
        )
        SELECT doc_id,
               CAST(len(gr) AS BIGINT) AS n_grams,
               CASE WHEN len(gr) = 0 THEN NULL
                    ELSE ROUND(1.0 - CAST(len(list_distinct(gr)) AS DOUBLE)
                               / len(gr), 4) END AS dup_gram_frac,
               CASE WHEN len(gr) = 0 THEN NULL
                    ELSE ROUND(CAST(list_max(list_transform(list_distinct(gr),
                               u -> len(list_filter(gr, x -> x = u)))) AS DOUBLE)
                               / len(gr), 4) END AS top_gram_share
        FROM g
    """,
    tags=("curation", "quality", "text", "training-data"),
)
def txt_repetition_signals(spark, sf_dir):
    """Gopher-style repetition signals: per-doc duplicate-bigram mass
    and top-bigram share. Pure per-row array expressions — no shuffle."""
    from ..operators.curation import repetition_signals

    d = table(spark, sf_dir, "documents")
    return repetition_signals(d).select(
        "doc_id", "n_grams", "dup_gram_frac", "top_gram_share"
    )


_J_T = 0.7


# Shared CTE for the bounded pair-stats contracts: collapse the corpus
# to distinct token-set groups as 63-bit masks (token id = alphabetical
# rank), with multiplicity c and a min-doc_id representative. See
# operators/setsim.py's corpus-linear stats rationale.
_MASK_CTE = """
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(lower(text), ' '),
                                         t -> t <> '')) AS tok
        FROM documents
        WHERE len(list_filter(string_split(lower(text), ' '),
                              t -> t <> '')) > 0
    ), tokr AS (
        SELECT doc_id, unnest(tok) AS t FROM toks
    ), dict AS (
        SELECT t, ROW_NUMBER() OVER (ORDER BY t) - 1 AS tid
        FROM (SELECT DISTINCT t FROM tokr)
    ), m AS (
        SELECT r.doc_id, CAST(SUM(1::BIGINT << d.tid) AS BIGINT) AS mask
        FROM tokr r JOIN dict d ON r.t = d.t GROUP BY r.doc_id
    ), g AS (
        SELECT mask, CAST(COUNT(*) AS BIGINT) AS c, MIN(doc_id) AS rep
        FROM m GROUP BY mask
    )
"""

# Terms -> stats-row folding shared by both pair-stats oracles. Expects a
# CTE named `terms(w, je4, ma, mb)` in scope.
_PAIR_STATS_SELECT = """
    , ht AS (
        SELECT w, je4,
               CAST(('0x' || substr(md5(CAST(ma AS VARCHAR) || ':'
                    || CAST(mb AS VARCHAR) || ':'
                    || CAST(je4 AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 1000003 AS hv
        FROM terms
    )
    SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM g) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_sets,
           CAST(COALESCE(SUM(w), 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(w * je4), 0) AS BIGINT) AS jaccard_sum_e4,
           CAST(COALESCE(SUM((w * hv) % 1000003) % 1000003, 0) AS BIGINT)
               AS pair_digest
    FROM ht
"""


@register(
    "dedup_prefix_jaccard",
    oracle=_MASK_CTE
    + """
    , cp AS (
        SELECT a.mask AS ma, b.mask AS mb, a.c * b.c AS w,
               CAST(bit_count(a.mask & b.mask) AS INTEGER) AS i,
               CAST(bit_count(a.mask | b.mask) AS INTEGER) AS u
        FROM g a JOIN g b ON a.mask < b.mask
        WHERE 10 * CAST(bit_count(a.mask & b.mask) AS INTEGER)
              >= 7 * CAST(bit_count(a.mask | b.mask) AS INTEGER)
    ), terms AS (
        SELECT w, (20000 * i + u) // (2 * u) AS je4, ma, mb FROM cp
        UNION ALL
        SELECT c * (c - 1) // 2, 10000, mask, mask FROM g WHERE c >= 2
    )
    """
    + _PAIR_STATS_SELECT,
    tags=("dedup", "M2", "setsim", "exact"),
)
def dedup_prefix_jaccard(spark, sf_dir):
    """EXACT all-pairs Jaccard >= 0.7 via prefix filtering (AllPairs/
    PPJoin), folded to a corpus-linear stats row: (n_docs, n_sets,
    n_pairs, exact fixed-point jaccard sum, order-insensitive pair
    digest). The templated corpus has ~5M qualifying pairs over 5k docs
    at sf0.1, so any pair-LIST emitter is output-quadratic there; this
    contract keeps the prefix-filter candidate scheme honest — the
    oracle is BRUTE FORCE over all distinct-set pairs, so a recall bug
    in the prefix theorem's implementation flips n_pairs/digest red —
    while the output stays one row at any corpus size. The pair list
    itself remains available as prefix_filter_jaccard_pairs; the
    corpus-scale dedup contract is dedup_duplicate_groups."""
    from ..operators.setsim import jaccard_pair_stats

    return jaccard_pair_stats(table(spark, sf_dir, "documents"), threshold=_J_T)


_QVEC_ID = 0

_DQ = """
    list_transform({v},
        x -> floor(CAST(x AS DOUBLE) / {s} + 0.5) * {s})
"""


def _scale_sql(v: str) -> str:
    return (
        f"greatest(list_max(list_transform({v}, "
        f"x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30)"
    )


@register(
    "emb_quantize_recall",
    oracle=f"""
        WITH q AS (
            SELECT embedding AS qv,
                   {_scale_sql('embedding')} AS qs
            FROM embeddings WHERE vec_id = {_QVEC_ID}
        ), x AS (
            SELECT e.vec_id, e.label,
                   list_cosine_similarity(
                       list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(q.qv, x -> CAST(x AS DOUBLE))) AS ce,
                   list_cosine_similarity(
                       {_DQ.format(v='e.embedding', s=_scale_sql('e.embedding'))},
                       {_DQ.format(v='q.qv', s='q.qs')}) AS cq
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> {_QVEC_ID}
        )
        SELECT vec_id, label,
               -- + 0.0 collapses IEEE -0.0: a ~1e-18 cosine's sign can
               -- differ between engines' summation groupings
               ROUND(ce, 4) + 0.0 AS cos_exact,
               ROUND(cq, 4) + 0.0 AS cos_quant,
               ROUND(abs(ce - cq), 4) + 0.0 AS abs_err
        FROM x
    """,
    tags=("similarity", "quantization", "training-data"),
)
def emb_quantize_recall(spark, sf_dir):
    """Int8 embedding quantization fidelity: exact vs dequantized
    cosine against a fixed query vector, per corpus vector. The
    quantized index is 4x smaller — the scale path for ANN at 100 TB —
    and this query is the measurable recall contract for it.

    Kernel: the query side quantizes ONCE through the column
    expressions (quantize_int8/dequantize — the numeric definition
    point); the per-corpus-vector work runs as an Arrow-batched numpy
    pass (quantize = one vectorized floor(E/scale + 0.5) per batch,
    cosines = two GEMVs) — see quantize_recall_gemm. The former
    per-row interpreted-HOF chain was the dominant sf1 audit-tail
    entry (~483 s); element-wise numpy steps are bit-exact twins of
    the expressions (pinned in tests/test_curation.py)."""
    from ..functions.vectors import as_double, dequantize, quantize_int8
    from ..operators.similarity import quantize_recall_gemm

    e = table(spark, sf_dir, "embeddings")
    # both query-vector forms project ON the 1-row broadcast side —
    # inside the per-row expression they would re-quantize the query
    # for every corpus vector (measured: ~5 ms/row of interpreted HOFs)
    q = e.filter(F.col("vec_id") == _QVEC_ID).select(
        as_double(F.col("embedding")).alias("qd"),
        dequantize(quantize_int8(F.col("embedding"))).alias("qdq"),
    )
    return quantize_recall_gemm(e.filter(F.col("vec_id") != _QVEC_ID), q)


_GAP_HOURS = 24

_SESSION_ORACLE = f"""
        WITH d AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL {_GAP_HOURS} HOURS
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), g AS (
            SELECT user_id, ts, value,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM d
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL {_GAP_HOURS} HOURS AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE)
                   AS sum_value
        FROM g
        GROUP BY user_id, sid
    """


@register(
    "win_session_window",
    oracle=_SESSION_ORACLE,
    tags=("window", "session", "ST7"),
)
def win_session_window(spark, sf_dir):
    """Built-in session windows in batch mode: gap-based sessions per
    user via F.session_window (the same operator Structured Streaming
    uses for stateful sessionization — stream_sessionize is the
    custom-state twin). Oracle replays it with lag-based island
    detection. Session end = last event + gap, per Spark's contract."""
    return _sessions(table(spark, sf_dir, "events"))


@register(
    "stream_session_window",
    oracle=_SESSION_ORACLE,
    tags=("streaming", "session", "ST7"),
)
def stream_session_window(spark, sf_dir):
    """ST7 built-in tier, streaming: the same session_window aggregation
    over the event stream, run as a Structured Streaming query —
    engine-managed gap-based session state instead of the custom
    applyInPandasWithState sessionizer. Complete mode + availableNow
    drain, like stream_daily_counts, so the final table carries every
    closed-and-open session. Must equal the batch island detection
    exactly."""
    return _run_to_memory(_sessions(stream_table(spark, sf_dir, "events")), "complete")


def _sessions(events):
    """(user_id, session_start, session_end, n_events, sum_value) per
    gap-based session window; the frame of both session-window specs."""
    return (
        events.groupBy(
            "user_id", F.session_window("ts", f"{_GAP_HOURS} hours").alias("sw")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            # decimal accumulation, matching the shared oracle
            # (_SESSION_ORACLE): double money sums are summation-
            # order-dependent
            F.round(F.expr(exact_sum("value")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


_Z_BITS = 10
_Z_MOD = 1 << _Z_BITS
_Z_BUCKET = 4096  # 2^12 -> 256 buckets over the 2^20 z-space


def _zorder_oracle() -> str:
    from ..operators.layout import zvalue_sql

    z = zvalue_sql(f"(user_id % {_Z_MOD})", f"(event_id % {_Z_MOD})", _Z_BITS)
    return f"""
        WITH z AS (
            SELECT user_id % {_Z_MOD} AS x, event_id % {_Z_MOD} AS y,
                   {z} AS zkey
            FROM events
        )
        SELECT zkey // {_Z_BUCKET} AS z_bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
               CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max
        FROM z
        GROUP BY 1
    """


@register(
    "layout_zorder_profile",
    oracle=_zorder_oracle(),
    tags=("layout", "zorder", "pruning"),
)
def layout_zorder_profile(spark, sf_dir):
    """Z-order clustering key profile: Morton-interleave (user_id,
    event_id) and show that every z-range bucket covers a compact
    rectangle in BOTH dimensions (the min/max spans are the file-level
    pruning bounds a z-clustered write would give). Exact integer fold —
    bit-replayable in the oracle."""
    from ..operators.layout import zvalue

    e = table(spark, sf_dir, "events")
    x = (F.col("user_id") % _Z_MOD).alias("x")
    y = (F.col("event_id") % _Z_MOD).alias("y")
    z = e.select(x, y, zvalue(F.col("user_id") % _Z_MOD, F.col("event_id") % _Z_MOD, _Z_BITS).alias("zkey"))
    return (
        z.groupBy((F.col("zkey") / _Z_BUCKET).cast("long").alias("z_bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("x").cast("long").alias("x_min"),
            F.max("x").cast("long").alias("x_max"),
            F.min("y").cast("long").alias("y_min"),
            F.max("y").cast("long").alias("y_max"),
        )
    )


@register(
    "txt_token_entropy",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), t -> t <> '') AS tok
            FROM documents
        ), e AS (
            SELECT doc_id, tok,
                   CAST(len(tok) AS DOUBLE) AS n,
                   list_sort(list_distinct(tok)) AS dist
            FROM toks WHERE len(tok) > 0
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(len(dist) AS BIGINT) AS n_distinct,
               ROUND(-list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       list_transform(dist,
                           u -> (len(list_filter(tok, x -> x = u)) / n)
                                * log2(len(list_filter(tok, x -> x = u)) / n))),
                   (a, b) -> a + b), 4) AS entropy,
               CASE WHEN len(dist) > 1 THEN
                   ROUND(-list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(dist,
                               u -> (len(list_filter(tok, x -> x = u)) / n)
                                    * log2(len(list_filter(tok, x -> x = u)) / n))),
                       (a, b) -> a + b) / log2(CAST(len(dist) AS DOUBLE)), 4)
               END AS norm_entropy
        FROM e
    """,
    tags=("curation", "quality", "text", "training-data"),
)
def txt_token_entropy(spark, sf_dir):
    """Token-distribution Shannon entropy per document (plus entropy
    normalized by log2 of the vocabulary size) — the information-
    density quality signal: low entropy = repetitive/templated text.
    Distinct tokens are sorted before the fold so both engines sum the
    p*log2(p) terms in the same order (bit-identical until the final
    round)."""
    from ..functions.text_funcs import tokens

    d = table(spark, sf_dir, "documents")
    tok = F.expr(tokens("text"))

    def _ent(t):
        n = F.size(t).cast("double")
        dist = F.array_sort(F.array_distinct(t))
        plogp = F.transform(
            dist,
            lambda u: (F.size(F.filter(t, lambda x: x == u)) / n)
            * F.log2(F.size(F.filter(t, lambda x: x == u)) / n),
        )
        ent = -F.aggregate(plogp, F.lit(0.0), lambda a, b: a + b)
        return F.struct(
            F.size(t).cast("long").alias("n_tokens"),
            F.size(dist).cast("long").alias("n_distinct"),
            F.round(ent, 4).alias("entropy"),
            F.when(
                F.size(dist) > 1,
                F.round(ent / F.log2(F.size(dist).cast("double")), 4),
            ).alias("norm_entropy"),
        )

    s = F.element_at(F.transform(F.array(tok), _ent), 1)
    return (
        d.filter(F.size(tok) > 0)
        .select("doc_id", s.alias("s"))
        .select("doc_id", "s.n_tokens", "s.n_distinct", "s.entropy", "s.norm_entropy")
    )


_HH_DENOM = 64  # heavy hitter := frequency strictly > total/64


@register(
    "agg_heavy_hitters",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS token
            FROM documents
        ), tot AS (SELECT COUNT(*) AS n FROM tok)
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok, tot
        GROUP BY token, tot.n
        HAVING COUNT(*) * {_HH_DENOM} > tot.n
    """,
    tags=("sketch", "heavy-hitters", "training-data"),
)
def agg_heavy_hitters(spark, sf_dir):
    """Heavy hitters exactly, via sketching: per-partition Misra-Gries
    candidate summaries (fixed k counters per task — the provable
    superset) then an exact count of candidates only. The result equals
    the brute-force groupBy answer, which is what the oracle computes;
    the sketch is HOW the engine avoids shuffling the full token long
    tail at corpus scale."""
    from ..functions.text_funcs import tokens
    from ..operators.sketches import heavy_hitters_exact

    d = table(spark, sf_dir, "documents")
    items = d.select(F.explode(F.expr(tokens("text"))).alias("token"))
    return heavy_hitters_exact(items, "token", _HH_DENOM)


_MIX_BUDGETS = {"src0": 100_000, "src1": 600}
_MIX_DEFAULT = 300


def _mix_oracle() -> str:
    from ..operators.sampling import deviate_sql

    dev = deviate_sql("doc_id", "mix")
    cases = " ".join(
        f"WHEN source = '{s}' THEN {b}" for s, b in _MIX_BUDGETS.items()
    )
    bud = f"CASE {cases} ELSE {_MIX_DEFAULT} END"
    return f"""
        WITH t AS (
            SELECT doc_id, source,
                   len(list_filter(string_split(lower(text), ' '),
                                   x -> x <> '')) AS ntok,
                   {dev} AS dev
            FROM documents
        ), w AS (
            SELECT source, ntok,
                   SUM(ntok) OVER (PARTITION BY source ORDER BY dev, doc_id
                                   ROWS UNBOUNDED PRECEDING) - ntok AS cumb
            FROM t
        )
        SELECT source,
               CAST(SUM(CASE WHEN cumb < {bud} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_kept,
               CAST(SUM(CASE WHEN cumb < {bud} THEN ntok ELSE 0 END) AS BIGINT)
                   AS tokens_kept
        FROM w
        GROUP BY source
    """


@register(
    "mix_token_budget",
    oracle=_mix_oracle(),
    tags=("sampling", "mixing", "training-data"),
)
def mix_token_budget(spark, sf_dir):
    """Data mixing by per-source token budget: fill each source's
    budget in deterministic deviate order (at most one doc of
    overshoot). The mixture-weights step of a pretraining pipeline,
    reproducible on any cluster shape."""
    from ..functions.text_funcs import token_count
    from ..operators.sampling import take_token_budget

    d = table(spark, sf_dir, "documents").withColumn(
        "ntok", F.expr(token_count("text")).cast("long")
    )
    mixed = take_token_budget(
        d, "doc_id", "source", "ntok", _MIX_BUDGETS, default_budget=_MIX_DEFAULT
    )
    return mixed.groupBy("source").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_docs_kept"),
        F.sum(F.when(F.col("keep"), F.col("ntok")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    )


def _dividend_oracle() -> str:
    from ._oracle_cc import group_cc_prefix

    # group-level CC (sf1-feasible; see _oracle_cc.py): a component's
    # canonical doc is the min id over its groups, and that doc's raw
    # token count is arg_min(rep_raw, min_id) of the winning group;
    # empty-token docs are isolated singletons contributing 0 tokens.
    return (
        group_cc_prefix(min_tokens=1, singletons_below=True)
        + """
        , ctok AS (
            SELECT gl.comp,
                   CAST(arg_min(gb.rep_raw, gb.min_id) AS BIGINT) AS can_tok
            FROM glabel gl JOIN gb ON gb.gid = gl.gid
            GROUP BY gl.comp
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ccanon)
               + (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                  WHERE len(list_filter(string_split(lower(text), ' '),
                                        t -> t <> '')) < 1) AS n_canonical,
               (SELECT CAST(COALESCE(SUM(n_raw_sum), 0) AS BIGINT) FROM gb)
                   AS tokens_raw,
               (SELECT CAST(COALESCE(SUM(can_tok), 0) AS BIGINT) FROM ctok)
                   AS tokens_canonical,
               ROUND(1.0 - (SELECT CAST(COALESCE(SUM(can_tok), 0) AS DOUBLE)
                            FROM ctok)
                           / (SELECT SUM(n_raw_sum) FROM gb), 6)
                   AS token_savings
    """
    )


@register(
    "cur_dedup_dividend",
    oracle=_dividend_oracle(),
    tags=("curation", "dedup", "llm-prep", "accounting"),
)
def cur_dedup_dividend(spark, sf_dir):
    """The dedup dividend: how many training tokens near-dup
    deduplication actually saves — raw corpus tokens vs tokens of
    canonical group representatives only, with the savings fraction.
    The number that justifies (or kills) a dedup stage's compute
    budget before anyone runs it at 100 TB. Composes the proven
    blocked-Jaccard pairs + connected-components plans with a token
    rollup; one extra id-keyed join over the dedup plan itself."""
    from ..functions.text_funcs import token_count
    from ..operators import dedup as D

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(token_count("text")).alias("n_tokens"))
    pairs = D.jaccard_pairs(docs)
    labels = D.connected_components(pairs)
    canon = (
        toks.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("canon"),
        )
    )
    is_canon = F.when(F.col("doc_id") == F.col("canon"), F.col("n_tokens")).otherwise(0)
    return canon.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("canon").cast("long").alias("n_canonical"),
        F.sum("n_tokens").cast("long").alias("tokens_raw"),
        F.sum(is_canon).cast("long").alias("tokens_canonical"),
        F.round(
            F.lit(1.0) - F.sum(is_canon) / F.sum("n_tokens"), 6
        ).alias("token_savings"),
    )


@register(
    "cur_decontaminate_spans",
    oracle=_TOK_CTE
    + f"""
        , corpus AS (
            SELECT doc_id, tok FROM toks WHERE doc_id % {_BENCH_MOD} <> 0
        ), bench_sh AS (
            SELECT DISTINCT unnest({_shingle_sql(5)}) AS sh
            FROM toks WHERE doc_id % {_BENCH_MOD} = 0
        ), csh AS (
            SELECT doc_id,
                   unnest(range(0, len(tok) - 4)) AS p,
                   unnest(list_transform(range(0, len(tok) - 4),
                          i -> array_to_string(tok[i+1 : i+5], ' '))) AS sh
            FROM corpus
        ), hits AS (
            SELECT c.doc_id, c.p FROM csh c JOIN bench_sh b USING (sh)
        ), covered AS (
            SELECT DISTINCT doc_id, unnest(range(p, p + 5)) AS tp FROM hits
        ), isl AS (
            SELECT doc_id, tp,
                   tp - row_number() OVER (PARTITION BY doc_id ORDER BY tp)
                       AS grp
            FROM covered
        ), spans AS (
            SELECT doc_id, COUNT(*) AS n_covered,
                   COUNT(DISTINCT grp) AS n_spans
            FROM isl GROUP BY doc_id
        ), words AS (
            SELECT doc_id, unnest(range(0, len(tok))) AS tp, unnest(tok) AS w
            FROM corpus
        ), kept AS (
            SELECT wd.doc_id, wd.tp, wd.w
            FROM words wd LEFT JOIN covered c
              ON wd.doc_id = c.doc_id AND wd.tp = c.tp
            WHERE c.tp IS NULL
        ), rebuilt AS (
            SELECT doc_id,
                   md5(COALESCE(string_agg(w, ' ' ORDER BY tp), ''))
                       AS cleaned_md5
            FROM kept GROUP BY doc_id
        )
        SELECT c.doc_id,
               CAST(len(c.tok) AS BIGINT) AS n_tokens,
               CAST(COALESCE(s.n_covered, 0) AS BIGINT) AS n_covered,
               CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans,
               COALESCE(r.cleaned_md5, md5('')) AS cleaned_md5
        FROM corpus c
        LEFT JOIN spans s USING (doc_id)
        LEFT JOIN rebuilt r USING (doc_id)
    """,
    tags=("curation", "decontamination", "spans", "training-data"),
)
def cur_decontaminate_spans(spark, sf_dir):
    """SPAN-level decontamination — the surgical upgrade of
    cur_decontaminate's doc-level flag: every token position covered by
    a benchmark-shared 5-gram is excised and the document REBUILT from
    the surviving tokens (contaminated docs keep their clean content
    instead of being dropped whole — at 100 TB that's the difference
    between losing a few sentences and losing the document). Emits the
    covered-token count, the number of maximal contaminated spans
    (islands of covered positions), and the rebuild digest so the
    oracle value-checks the cleaned CONTENT. Scale shape: positional
    shingle explode, broadcast benchmark shingle set, islands via one
    per-doc window, anti-join rebuild — no all-pairs stage."""
    from ..functions.text_funcs import tokens

    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(tokens("text")).alias("tok")
    )
    corpus = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
    bench_sh = (
        docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(
            F.explode(
                F.when(
                    F.size("tok") >= 5,
                    F.transform(
                        F.sequence(F.lit(0), F.size("tok") - 5),
                        lambda i: F.array_join(F.slice("tok", i + 1, 5), " "),
                    ),
                ).otherwise(F.array())
            ).alias("sh")
        )
        .distinct()
    )
    csh = corpus.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("tok") >= 5,
                F.transform(
                    F.sequence(F.lit(0), F.size("tok") - 5),
                    lambda i: F.array_join(F.slice("tok", i + 1, 5), " "),
                ),
            ).otherwise(F.array())
        ).alias("p", "sh"),
    )
    hits = csh.join(F.broadcast(bench_sh), "sh").select("doc_id", "p")
    covered = hits.select(
        "doc_id", F.explode(F.sequence(F.col("p"), F.col("p") + 4)).alias("tp")
    ).distinct()
    w = Window.partitionBy("doc_id").orderBy("tp")
    spans = (
        covered.withColumn("grp", F.col("tp") - F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_covered"),
            F.countDistinct("grp").cast("long").alias("n_spans"),
        )
    )
    words = corpus.select("doc_id", F.posexplode("tok").alias("tp", "w"))
    kept = words.join(covered, ["doc_id", "tp"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tp", "w"))),
                    lambda s: s.w,
                ),
                " ",
            )
        ).alias("cleaned_md5")
    )
    return (
        corpus.select("doc_id", F.size("tok").cast("long").alias("n_tokens"))
        .join(spans, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
        )
    )


@register(
    "cur_gopher_rules",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), t -> t <> '')
                       AS tok
            FROM documents
        ), m AS (
            SELECT doc_id,
                   len(tok) AS n_words,
                   CAST(len(list_filter(tok, t -> t IN ('the','a','an','of',
                        'and','or','to','in','is','on'))) AS BIGINT)
                       AS stop_cnt,
                   CAST(len(list_distinct(tok)) AS BIGINT) AS n_uniq,
                   CASE WHEN len(tok) BETWEEN 50 AND 100000
                        THEN COALESCE(list_max(list_transform(
                                 list_distinct(tok),
                                 t -> len(list_filter(tok, x -> x = t)))), 0)
                        ELSE 0 END AS top_cnt,
                   COALESCE(CAST(list_sum(list_transform(tok,
                        t -> len(t))) AS BIGINT), 0) AS char_sum
            FROM d
        ), rules AS (
            SELECT 'min_words' AS rule, (n_words >= 50) AS pass FROM m
            UNION ALL
            SELECT 'max_words', (n_words <= 100000) AS pass FROM m
            UNION ALL
            SELECT 'mean_word_len',
                   n_words > 0 AND char_sum >= 3 * n_words
                               AND char_sum <= 10 * n_words
            FROM m
            UNION ALL
            SELECT 'stopword_floor', stop_cnt >= 2 FROM m
            UNION ALL
            SELECT 'repetition_cap',
                   n_words >= 50 AND n_words <= 100000
                               AND 5 * top_cnt <= n_words
            FROM m
            UNION ALL
            SELECT 'uniq_floor', n_words > 0 AND 5 * n_uniq >= n_words FROM m
        )
        SELECT rule,
               CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pass,
               CAST(SUM(CASE WHEN pass THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_fail,
               ROUND(SUM(CASE WHEN pass THEN 1 ELSE 0 END) * 1.0 / COUNT(*),
                     4) AS pass_rate
        FROM rules GROUP BY rule
    """,
    tags=("curation", "quality", "gopher", "training-data"),
)
def cur_gopher_rules(spark, sf_dir):
    """Gopher-recipe rule-based quality gate (Rae et al. 2021, the
    pre-classifier filter every big-corpus pipeline runs first): six
    per-document rules — minimum word count (>= 50), MAXIMUM word
    count (<= 100,000, Rae et al.'s upper gate), mean word length
    within [3, 10], a stopword floor (>= 2 stopwords: gibberish
    detector), a repetition cap (most frequent token <= 20% of the
    document), and a unique-token floor — profiled as one row per rule
    with pass/fail counts and pass rate. Every rule compares in INTEGER
    arithmetic (char_sum vs 3*n_words, 5*top_cnt vs n_words) so both
    engines cut identically — no float ratio ever crosses a rounding
    boundary.

    Scale shape: all metrics are per-row higher-order array
    expressions (no explode, no per-doc shuffle — the most-frequent-
    token count runs over the distinct-token array inside codegen);
    the rule unpivot is a constant-width stack; the profile is one
    map-side-combinable aggregate over 6 x n rows. At 100 TB this is
    a single scan. Bound ENFORCED: the most-frequent-token expression is
    O(unique x length) per document, so it runs inside a
    lazily-evaluated CASE gated on the Gopher word-count window itself —
    docs outside [50, 100000] words never evaluate it (Spark's CaseWhen
    and DuckDB's CASE both evaluate the value branch only on condition
    match), and Gopher semantics define repetition_cap as fail for such
    docs anyway (they are rejected by the word-count rules before
    repetition is ever consulted). Worst per-doc cost is therefore
    capped by the 100k-word gate constant, not the corpus's largest
    document."""
    from ..functions.text_funcs import STOPWORDS, tokens

    docs = table(spark, sf_dir, "documents")
    tok = F.expr(tokens("text"))
    sw = F.array(*[F.lit(s) for s in STOPWORDS[:10]])
    m = docs.select(
        tok.alias("tok"),
        F.size(tok).cast("long").alias("n_words"),
        F.size(F.filter(tok, lambda t: F.array_contains(sw, t)))
        .cast("long")
        .alias("stop_cnt"),
        F.size(F.array_distinct(tok)).cast("long").alias("n_uniq"),
    ).select(
        "n_words",
        "stop_cnt",
        "n_uniq",
        # enforced bound: the O(unique x length)
        # scan only evaluates inside the Gopher word-count window —
        # CaseWhen is lazy per row, so out-of-gate docs cost nothing
        F.when(
            F.col("n_words").between(50, 100000),
            F.coalesce(
                F.array_max(
                    F.transform(
                        F.array_distinct(F.col("tok")),
                        lambda t: F.size(
                            F.filter(F.col("tok"), lambda x: x == t)
                        ),
                    )
                ),
                F.lit(0),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("top_cnt"),
        F.coalesce(
            F.aggregate(
                F.transform(F.col("tok"), lambda t: F.length(t).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
            F.lit(0),
        ).alias("char_sum"),
    )
    rules = m.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("min_words").alias("rule"),
                    (F.col("n_words") >= 50).alias("pass"),
                ),
                F.struct(
                    F.lit("max_words").alias("rule"),
                    (F.col("n_words") <= 100000).alias("pass"),
                ),
                F.struct(
                    F.lit("mean_word_len").alias("rule"),
                    (
                        (F.col("n_words") > 0)
                        & (F.col("char_sum") >= 3 * F.col("n_words"))
                        & (F.col("char_sum") <= 10 * F.col("n_words"))
                    ).alias("pass"),
                ),
                F.struct(
                    F.lit("stopword_floor").alias("rule"),
                    (F.col("stop_cnt") >= 2).alias("pass"),
                ),
                F.struct(
                    F.lit("repetition_cap").alias("rule"),
                    (
                        (F.col("n_words") >= 50)
                        & (F.col("n_words") <= 100000)
                        & (5 * F.col("top_cnt") <= F.col("n_words"))
                    ).alias("pass"),
                ),
                F.struct(
                    F.lit("uniq_floor").alias("rule"),
                    (
                        (F.col("n_words") > 0)
                        & (5 * F.col("n_uniq") >= F.col("n_words"))
                    ).alias("pass"),
                ),
            )
        ).alias("r")
    ).select("r.rule", "r.pass")
    return rules.groupBy("rule").agg(
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("long").alias("n_pass"),
        F.sum(F.when(F.col("pass"), 0).otherwise(1)).cast("long").alias("n_fail"),
        F.round(
            F.sum(F.when(F.col("pass"), 1).otherwise(0)) / F.count("*"), 4
        ).alias("pass_rate"),
    )


_CONTAM_BENCH_CUT = (1 << 60) // 10  # 10% deterministic benchmark split
_CONTAM_THRESHOLDS = (0.0, 0.2, 0.4, 0.6, 0.8)


def _contam_oracle() -> str:
    from ..operators.sampling import deviate_sql

    th = ", ".join(str(t) for t in _CONTAM_THRESHOLDS)
    return f"""
        WITH t AS (
            SELECT doc_id,
                   {deviate_sql("doc_id", "contam_bench")} < {_CONTAM_BENCH_CUT}
                       AS is_bench,
                   list_filter(string_split(lower(text), ' '), x -> x <> '')
                       AS tok
            FROM documents
        ), g0 AS (
            SELECT doc_id, is_bench,
                   unnest(CASE WHEN len(tok) >= 3
                          THEN list_transform(range(len(tok) - 2),
                               i -> array_to_string(
                                        list_slice(tok, i + 1, i + 3), ' '))
                          ELSE [] END) AS g
            FROM t
        ), gd AS (
            SELECT DISTINCT doc_id, is_bench,
                   {deviate_sql("g", "cgram")} AS gh
            FROM g0
        ), bench AS (
            SELECT DISTINCT gh FROM gd WHERE is_bench
        ), perdoc AS (
            SELECT gd.doc_id, COUNT(*) AS n_grams,
                   SUM(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END) AS hits
            FROM gd LEFT JOIN bench b ON gd.gh = b.gh
            WHERE NOT gd.is_bench GROUP BY 1
        ), fr AS (
            SELECT doc_id, hits / n_grams AS frac FROM perdoc
        ), th AS (SELECT CAST(unnest([{th}]) AS DOUBLE) AS threshold)
        SELECT th.threshold,
               CAST(COUNT(*) AS BIGINT) AS n_train_docs,
               CAST(SUM(CASE WHEN fr.frac >= th.threshold THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flagged,
               ROUND(SUM(CASE WHEN fr.frac >= th.threshold THEN 1 ELSE 0 END)
                     / COUNT(*), 6) AS flag_rate,
               ROUND(AVG(CASE WHEN fr.frac >= th.threshold THEN fr.frac END),
                     4) AS mean_flagged_overlap
        FROM fr CROSS JOIN th
        GROUP BY 1
    """


@register(
    "cur_contamination_ngram_overlap",
    oracle=_contam_oracle(),
    tags=("curation", "decontamination", "ngram", "training-data"),
)
def cur_contamination_ngram_overlap(spark, sf_dir):
    """Eval-set decontamination by hashed n-gram overlap FRACTION (the
    gap cur_decontaminate's span-hit test leaves: a doc that shares ONE
    shingle with the benchmark is a span hit, but removal decisions in
    practice threshold on the contaminated fraction — GPT-3 appendix C
    / PaLM-style 13-gram overlap ratios, here 3-grams so sf-scale docs
    produce grams). A deterministic 10% md5 split of `documents` plays
    the held-out benchmark; every TRAIN doc scores
    |distinct 3-grams ∩ benchmark grams| / |distinct 3-grams|, and the
    output is the threshold-sweep profile (n/flag-rate/mean overlap at
    cut >= 0.0/0.2/0.4/0.6/0.8) a curation run uses to pick the cut.

    Scale shape: grams are md5-hashed to 8-byte keys before the
    membership join, so the shuffle carries hashes, not strings; the
    join is a plain shuffled equi-join on the gram hash (benchmark side
    is corpus-proportional — never broadcast); per-doc scoring is one
    map-side-combinable groupBy; the 5-threshold profile explodes a
    literal array (no join) and aggregates on 5 keys. Reference
    analogue: the reference dedups/filters informal docs before
    analysis (deduplication_consumer.py) but has no eval-overlap gate —
    this is a first-class LLM-pipeline addition."""
    from ..functions.text_funcs import tokens
    from ..operators.sampling import hash_deviate

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        (hash_deviate(F.col("doc_id"), "contam_bench") < _CONTAM_BENCH_CUT).alias(
            "is_bench"
        ),
        F.expr(tokens("text")).alias("tok"),
    )
    grams = tok.select(
        "doc_id",
        "is_bench",
        F.explode(
            F.when(
                F.size("tok") >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size("tok") - 3),
                    lambda i: F.array_join(F.slice("tok", i + 1, 3), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    gd = grams.select(
        "doc_id", "is_bench", hash_deviate(F.col("g"), "cgram").alias("gh")
    ).distinct()
    bench = gd.filter(F.col("is_bench")).select("gh").distinct()
    perdoc = (
        gd.filter(~F.col("is_bench"))
        .join(bench.withColumn("hit", F.lit(1)), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
        )
    )
    fr = perdoc.select((F.col("hits") / F.col("n_grams")).alias("frac"))
    prof = fr.select(
        F.explode(
            F.array(*[F.lit(t) for t in _CONTAM_THRESHOLDS])
        ).alias("threshold"),
        "frac",
    )
    flagged = F.col("frac") >= F.col("threshold")
    return prof.groupBy("threshold").agg(
        F.count("*").cast("long").alias("n_train_docs"),
        F.sum(F.when(flagged, 1).otherwise(0)).cast("long").alias("n_flagged"),
        F.round(
            F.sum(F.when(flagged, 1).otherwise(0)) / F.count("*"), 6
        ).alias("flag_rate"),
        F.round(F.avg(F.when(flagged, F.col("frac"))), 4).alias(
            "mean_flagged_overlap"
        ),
    )
