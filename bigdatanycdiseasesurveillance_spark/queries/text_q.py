"""Text-analysis + relevance query corpus over `documents`."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text_funcs import STOPWORDS
from ..operators.relevance import (
    HAZARD_VOCAB,
    PRIMARY_VOCAB,
    SECONDARY_VOCAB,
    extract_relevance,
)
from ..operators import dedup as D
from ..operators import text_analysis as TA
from ..operators.sampling import STRATUM_RATES
from ..registry import register
from ..tables import table

_SW = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
_TOKS_CTE = """
    WITH toks AS (
        SELECT doc_id, lang, source,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS tok
        FROM documents
    )
"""


@register(
    "txt_token_stats",
    oracle=_TOKS_CTE
    + f"""
        SELECT doc_id,
               len(tok) AS n_tokens,
               len(list_distinct(tok)) AS n_distinct_tokens,
               len(list_filter(tok, t -> list_contains({_SW}, t))) AS stop_cnt,
               ROUND(list_aggregate(list_transform(tok, t -> length(t)), 'avg'), 4)
                   AS avg_token_len
        FROM toks
    """,
    tags=("text", "tokens"),
)
def txt_token_stats(spark, sf_dir):
    """Token counting: per-doc token/distinct/stopword counts + mean
    token length (data-budget accounting)."""
    d = table(spark, sf_dir, "documents")
    return TA.token_stats(d).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "stop_cnt", "avg_token_len"
    )


@register(
    "txt_quality_score",
    # exact integer fixed-point, mirroring operators/text_analysis.
    # quality_score: the float form lands exactly on 4-decimal halves
    # (0.72625 at n=80), where the engines' ROUND disagrees — sf1 find.
    oracle=_TOKS_CTE
    + f"""
        , s AS (
            SELECT doc_id,
                   CAST(len(tok) AS BIGINT) AS n,
                   CAST(len(list_distinct(tok)) AS BIGINT) AS d,
                   CAST(len(list_filter(tok, t -> list_contains({_SW}, t)))
                        AS BIGINT) AS st
            FROM toks
        ), fx AS (
            SELECT doc_id, n, d, st,
                   LEAST(300 * n, 2 * LEAST(n, 60) * n + 90 * d
                         + 90 * LEAST(4 * st, n)) AS num,
                   300 * n AS den
            FROM s
        )
        SELECT doc_id,
               n AS n_tokens,
               ((20000 * d + n) // (2 * n)) / 10000.0 AS distinct_ratio,
               ((20000 * st + n) // (2 * n)) / 10000.0 AS stop_ratio,
               ((20000 * num + den) // (2 * den)) / 10000.0 AS quality_score,
               ((20000 * num + den) // (2 * den)) >= 6000 AS is_high_quality
        FROM fx
    """,
    tags=("text", "quality"),
)
def txt_quality_score(spark, sf_dir):
    """Quality scoring: length/diversity/stopword heuristic in [0,1]
    (pretraining-corpus filter), exact-integer fixed point on both
    sides so 4-decimal-half boundaries cannot desync the engines."""
    d = table(spark, sf_dir, "documents")
    return TA.quality_score(d).select(
        "doc_id", "n_tokens", "distinct_ratio", "stop_ratio", "quality_score", "is_high_quality"
    )


_NORM_SQL = (
    "regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),"
    " ' +', ' ', 'g')"
)


@register(
    "txt_langid_trigram",
    oracle=f"""
        WITH norm AS (
            SELECT doc_id, lang, {_NORM_SQL} AS nt FROM documents
        ), grams AS (
            SELECT doc_id, lang,
                   unnest(list_distinct(
                       CASE WHEN length(nt) >= 3
                            THEN list_transform(range(1, length(nt) - 1),
                                                i -> substr(nt, CAST(i AS INTEGER), 3))
                            ELSE [] END)) AS g
            FROM norm
        ), freq AS (
            SELECT lang, g, COUNT(*) AS freq FROM grams GROUP BY 1, 2
        ), prof AS (
            SELECT lang AS profile_lang, g FROM freq
            QUALIFY row_number() OVER (PARTITION BY lang ORDER BY freq DESC, g) <= {TA.LANGID_PROFILE_SIZE}
        ), scored AS (
            SELECT gr.doc_id, gr.lang, p.profile_lang, COUNT(*) AS score
            FROM grams gr JOIN prof p USING (g)
            GROUP BY 1, 2, 3
        )
        SELECT doc_id, lang, profile_lang AS predicted_lang,
               CAST(score AS BIGINT) AS score
        FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, profile_lang) = 1
    """,
    tags=("text", "langid"),
    bench=True,
)
def txt_langid_trigram(spark, sf_dir):
    """Language-ID: character-trigram profiles learned from the labeled
    corpus, classification by profile overlap. Profile build is
    explode/groupBy/rank; scoring ships the tiny collected profiles in
    a mapInPandas closure (one scan, no second explode/join/window).
    The all-DataFrame langid_trigram computes the same result and is
    cross-checked in tests/test_oracle_parity.py."""
    return TA.langid_trigram_fast(table(spark, sf_dir, "documents"))


_PV = "[" + ", ".join(f"'{k}'" for k in PRIMARY_VOCAB) + "]"
_SV = "[" + ", ".join(f"'{k}'" for k in SECONDARY_VOCAB) + "]"
_HV = "[" + ", ".join(f"'{k}'" for k in HAZARD_VOCAB) + "]"


@register(
    "rel_keyword_extraction",
    oracle=f"""
        WITH m AS (
            SELECT doc_id, text,
                   list_filter({_PV}, k -> contains(lower(text), k)) AS p,
                   len(list_filter({_PV}, k -> contains(lower(text), k))) AS np,
                   len(list_filter({_SV}, k -> contains(lower(text), k))) AS ns,
                   len(list_filter({_HV}, k -> contains(lower(text), k))) AS nh
            FROM documents
        )
        SELECT doc_id,
               -- DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
               COALESCE(array_to_string(p, ','), '') AS matched_primary,
               np AS n_primary, ns AS n_secondary, nh AS n_hazard,
               (length(text) >= 5) AND (np > 0 OR ns >= 2 OR nh > 0) AS is_relevant,
               CASE WHEN np >= 3 THEN 'severe'
                    WHEN np >= 2 THEN 'moderate'
                    ELSE 'mild' END AS severity,
               ROUND(LEAST(0.9, 0.25 * np + 0.1 * ns), 2) AS confidence
        FROM m
    """,
    tags=("relevance", "U1", "P5"),
    bench=True,
)
def rel_keyword_extraction(spark, sf_dir):
    """U1/P5: the reference's relevance UDF as pure column expressions
    (keyword dicts -> higher-order filter; severity/confidence when
    chains). The stage that was the reference's 105 rec/s bottleneck."""
    d = table(spark, sf_dir, "documents")
    return extract_relevance(d).select(
        "doc_id",
        "matched_primary",
        "n_primary",
        "n_secondary",
        "n_hazard",
        "is_relevant",
        "severity",
        "confidence",
    )


def _health_relevance_oracle() -> str:
    """Generated from the SAME vocabulary constants the Spark side uses
    (domain.health_relevance) so the two can never drift apart."""
    from ..domain.health_relevance import (
        DISEASE_KEYWORDS,
        HAZARD_KEYWORDS,
        MILD_WORDS,
        MODERATE_WORDS,
        SEVERE_WORDS,
        SYMPTOM_KEYWORDS,
    )

    def any_contains(words):
        return " OR ".join(f"contains(t, '{w}')" for w in words)

    disease_cases = ", ".join(
        f"CASE WHEN {any_contains(kws)} THEN '{name}' END"
        for name, kws in DISEASE_KEYWORDS.items()
    )
    sym_list = "[" + ", ".join(f"'{s}'" for s in SYMPTOM_KEYWORDS) + "]"
    return f"""
        WITH m AS (
            SELECT doc_id, lower(trim(text)) AS t,
                   length(trim(text)) >= 5 AS long_enough
            FROM documents
        ), x AS (
            SELECT doc_id, long_enough,
                   list_filter([{disease_cases}], d -> d IS NOT NULL) AS dis,
                   list_filter({sym_list}, s -> contains(t, s)) AS sym,
                   ({any_contains(HAZARD_KEYWORDS)}) AS hazard,
                   CASE WHEN {any_contains(SEVERE_WORDS)} THEN 'severe'
                        WHEN {any_contains(MODERATE_WORDS)} THEN 'moderate'
                        WHEN {any_contains(MILD_WORDS)} THEN 'mild'
                        ELSE 'unknown' END AS sev_m
            FROM m
        )
        SELECT doc_id,
               COALESCE(array_to_string(dis, ','), '') AS diseases,
               COALESCE(array_to_string(sym, ','), '') AS symptoms,
               CAST(len(dis) AS BIGINT) AS n_diseases,
               CAST(len(sym) AS BIGINT) AS n_symptoms,
               hazard AS has_hazard,
               long_enough AND (len(dis) > 0 OR len(sym) >= 2 OR hazard)
                   AS is_relevant,
               CASE WHEN long_enough THEN sev_m ELSE 'unknown' END AS severity,
               ROUND(CASE
                   WHEN NOT long_enough THEN 0.0
                   WHEN len(dis) > 0 OR len(sym) >= 2 OR hazard THEN
                       LEAST(0.90, 0.6
                             + 0.1 * LEAST(CAST(len(dis) AS DOUBLE), 2.0)
                             + CASE WHEN len(sym) >= 2
                                    THEN 0.05 * LEAST(CAST(len(sym) AS DOUBLE), 3.0)
                                    ELSE 0.0 END
                             + CASE WHEN sev_m <> 'unknown' THEN 0.05 ELSE 0.0 END)
                   ELSE 0.2 END, 2) AS confidence,
               CASE WHEN long_enough THEN 'keyword_analysis'
                    ELSE 'insufficient_text' END AS reason
        FROM x
    """


@register(
    "rel_health_domain",
    oracle=_health_relevance_oracle(),
    tags=("relevance", "U1", "domain"),
)
def rel_health_domain(spark, sf_dir):
    """U1 with the reference's REAL domain preset: the 12-disease /
    23-symptom / 8-hazard dictionaries and the exact severity ladder +
    confidence formula (relevance_consumer.py:124-264), as pure column
    expressions over `documents`."""
    from ..domain.health_relevance import analyze_health_relevance

    d = table(spark, sf_dir, "documents")
    return analyze_health_relevance(d).select(
        "doc_id",
        "diseases",
        "symptoms",
        "n_diseases",
        "n_symptoms",
        "has_hazard",
        "is_relevant",
        "severity",
        "confidence",
        "reason",
    )


def _winnow_fps_cte() -> str:
    """Shared oracle CTE: per-doc winnowed fingerprints, replaying
    operators.fingerprint.winnow_set bit-for-bit (exact integer
    polynomial hashes, with its gram size, window, base and modulus). Gram hashes materialize ONCE per doc (unnest of
    one list_transform), windows via a frame-bounded MIN — the same
    no-refold structure the Spark side pins with lambda bindings."""
    from ..operators.fingerprint import B as b, K as k, M as m, W as w

    return f"""
        WITH gs AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, length(text) - {k} + 2),
                     i -> {{'i': i, 'h': list_reduce(list_prepend(CAST(0 AS BIGINT),
                              list_transform(range(i, i + {k}),
                                p -> CAST(ascii(substr(text, CAST(p AS INTEGER), 1)) AS BIGINT))),
                            (acc, c) -> (acc * {b} + c) % {m})}})) AS s
            FROM documents
        ), wins AS (
            SELECT doc_id, s.i AS i,
                   min(s.h) OVER (PARTITION BY doc_id ORDER BY s.i
                                  ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
                   count(*) OVER (PARTITION BY doc_id) AS nh
            FROM gs
        ), fps AS (
            SELECT DISTINCT doc_id, fp AS fingerprint
            FROM wins WHERE i <= nh - {w - 1}
        )
    """


@register(
    "txt_winnow_profile",
    oracle=_winnow_fps_cte()
    + """
        SELECT d.doc_id,
               CAST(COALESCE(f.cnt, 0) AS BIGINT) AS n_fingerprints,
               f.mn AS min_fp
        FROM documents d
        LEFT JOIN (SELECT doc_id, COUNT(*) AS cnt, MIN(fingerprint) AS mn
                   FROM fps GROUP BY doc_id) f
          ON d.doc_id = f.doc_id
    """,
    tags=("text", "fingerprint", "winnowing"),
)
def txt_winnow_profile(spark, sf_dir):
    """Document fingerprinting via winnowing (rolling k-gram hashes,
    window minima — SIGMOD'03): per-doc fingerprint count + smallest
    fingerprint. Exact integer arithmetic, value-hash-matched against
    the DuckDB replay."""
    from ..operators.fingerprint import winnow_set
    from ..tables import parallelize_scan

    # O(len*k)-per-row winnow expression: spread the byte-small scan
    # across the cores (r14 — no-op at 100 TB where the scan splits)
    d = parallelize_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    fp = winnow_set(F.col("text"))
    return d.select(
        "doc_id",
        F.size(fp).cast("long").alias("n_fingerprints"),
        F.array_min(fp).alias("min_fp"),
    )


@register(
    "dedup_fingerprint_pairs",
    oracle=_winnow_fps_cte()
    + """
        , rare AS (
            SELECT fingerprint FROM fps GROUP BY fingerprint HAVING COUNT(*) <= 50
        ), kept AS (
            SELECT f.doc_id, f.fingerprint FROM fps f JOIN rare USING (fingerprint)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM kept a JOIN kept b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    """,
    tags=("dedup", "fingerprint", "winnowing", "M2"),
)
def dedup_fingerprint_pairs(spark, sf_dir):
    """Partial-overlap/containment candidates: docs sharing >= 3
    winnowed fingerprints, with fingerprints present in > 50 docs
    dropped first (common-shingle cutoff). Bucketed on the fingerprint
    value — linear shuffle, never all-pairs; the containment tier the
    reference's whole-doc dedup signatures cannot see."""
    from ..operators.fingerprint import fingerprint_pairs

    return fingerprint_pairs(table(spark, sf_dir, "documents"))


def _minhash_md5_stats_oracle() -> str:
    from .curation_q import _MASK_CTE, _PAIR_STATS_SELECT

    return (
        _MASK_CTE
        + """
    , gt AS (
        SELECT g.mask, r.t
        FROM g JOIN (SELECT doc_id, unnest(tok) AS t FROM toks) r
          ON r.doc_id = g.rep
    ), hashed AS (
        SELECT mask, s.seed,
               CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || t),
                                    1, 15)) AS BIGINT) AS h
        FROM gt CROSS JOIN (SELECT unnest(range(16)) AS seed) s
    ), sig AS (
        SELECT mask, seed, MIN(h) AS mh FROM hashed GROUP BY mask, seed
    ), bands AS (
        SELECT mask, seed // 4 AS band,
               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bsig
        FROM sig GROUP BY mask, seed // 4
    ), cand AS (
        SELECT DISTINCT a.mask AS ma, b.mask AS mb
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
                    AND a.mask < b.mask
    ), cp AS (
        SELECT c.ma, c.mb, ga.c * gb.c AS w,
               CAST(bit_count(c.ma & c.mb) AS INTEGER) AS i, CAST(bit_count(c.ma | c.mb) AS INTEGER) AS u
        FROM cand c
        JOIN g ga ON ga.mask = c.ma
        JOIN g gb ON gb.mask = c.mb
        WHERE 10 * CAST(bit_count(c.ma & c.mb) AS INTEGER) >= 7 * CAST(bit_count(c.ma | c.mb) AS INTEGER)
    ), terms AS (
        SELECT w, (20000 * i + u) // (2 * u) AS je4, ma, mb FROM cp
        UNION ALL
        SELECT c * (c - 1) // 2, 10000, mask, mask FROM g WHERE c >= 2
    )
    """
        + _PAIR_STATS_SELECT
    )


@register(
    "dedup_minhash_md5",
    oracle=_minhash_md5_stats_oracle(),
    tags=("dedup", "M2", "lsh", "oracle-replayable"),
)
def dedup_minhash_md5(spark, sf_dir):
    """M2 with a SQL-replayable hash family: the full MinHash-LSH
    pipeline (md5-derived per-seed hashes -> groupBy-min signatures ->
    banding -> candidate equi-join -> exact-Jaccard verify) checked
    end-to-end against DuckDB, folded to the corpus-linear stats row
    (n_docs, n_sets, n_pairs, jaccard_sum_e4, pair_digest) over
    distinct token sets — the pair-LIST form is output-quadratic on the
    templated near-dup corpus (~140 s at sf0.1). The oracle replays
    the identical hash family and banding, so a banding bug changes
    the candidate set and flips the stats red; the xxhash64 variant
    (dedup_minhash_lsh) stays the throughput path."""
    from ..operators.setsim import minhash_md5_pair_stats

    return minhash_md5_pair_stats(table(spark, sf_dir, "documents"))


# --- deterministic sampling (operators/sampling.py) -------------------
# thresholds precomputed so the Spark code and the oracle SQL embed the
# IDENTICAL integers: membership is exact, never float-boundary.

_S_SCALE = 1 << 60
_S_DEFAULT = 0.1
_S_TEST = 0.2


def _strat_threshold_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {int(r * _S_SCALE)}"
        for s, r in STRATUM_RATES.items()
    )
    return f"CASE {cases} ELSE {int(_S_DEFAULT * _S_SCALE)} END"


@register(
    "sample_stratified_sources",
    oracle=f"""
        WITH dev AS (
            SELECT source, n_chars,
                   CAST(('0x' || substr(md5('strat:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS d
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM dev
        WHERE d < {_strat_threshold_sql()}
        GROUP BY source
    """,
    tags=("sampling", "training-data"),
)
def sample_stratified_sources(spark, sf_dir):
    """Deterministic stratified sampling — keep 100% of src0, 50% of
    src1, 25% of src2, 10% elsewhere, by md5-hash deviate of doc_id.
    Membership is a pure function of the data (layout/parallelism
    independent — rand(seed) is not), which is why the oracle can
    replay it row-for-row."""
    from ..operators.sampling import sample_stratified

    docs = table(spark, sf_dir, "documents")
    return (
        sample_stratified(docs, default_rate=_S_DEFAULT)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@register(
    "split_train_test_profile",
    oracle=f"""
        WITH dev AS (
            SELECT source, n_chars,
                   CAST(('0x' || substr(md5('split:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS d
            FROM documents
        )
        SELECT source,
               CASE WHEN d < {int(_S_TEST * _S_SCALE)}
                    THEN 'test' ELSE 'train' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM dev
        GROUP BY 1, 2
    """,
    tags=("sampling", "training-data"),
)
def split_train_test_profile(spark, sf_dir):
    """Deterministic 80/20 train/test split by hash deviate — disjoint
    and exhaustive by construction (one deviate, one threshold). The
    per-(source, split) profile is what a data-mixing stage consumes."""
    from ..operators.sampling import train_test_split

    docs = table(spark, sf_dir, "documents")
    return (
        train_test_split(docs, test_rate=_S_TEST)
        .groupBy("source", "split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


# --- PII redaction (operators/redaction.py) ---------------------------


def _pii_oracle() -> str:
    from ..operators.redaction import pii_sql_exprs

    inject = (
        "text"
        " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||"
        " CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END"
        " || CASE WHEN doc_id % 4 = 0 THEN ' see https://ex.org/doc/' ||"
        " CAST(doc_id AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.' ||"
        " CAST(doc_id % 250 AS VARCHAR) || '.1' ELSE '' END"
    )
    redacted, counts = pii_sql_exprs(inject)
    return f"""
        SELECT doc_id,
               {counts['url']} AS n_url,
               {counts['email']} AS n_email,
               {counts['ip']} AS n_ip,
               {counts['phone']} AS n_phone,
               md5({redacted}) AS redacted_md5
        FROM documents
    """


@register(
    "txt_pii_redaction",
    oracle=_pii_oracle(),
    tags=("text", "pii", "training-data"),
)
def txt_pii_redaction(spark, sf_dir):
    """PII scrub stage: deterministic synthetic PII (the corpus has
    none) is injected per doc_id, then redacted to typed tokens with
    per-category counts. md5 of the scrubbed text is the witness that
    both engines produced byte-identical redactions."""
    from ..operators.redaction import pii_counts, redact_text

    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(F.lit(" see https://ex.org/doc/"), did.cast("string")),
        ).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" host 10.0."), (did % 250).cast("string"), F.lit(".1")),
        ).otherwise(F.lit("")),
    )
    counts = pii_counts(pii_text)
    return d.select(
        "doc_id",
        counts["url"].alias("n_url"),
        counts["email"].alias("n_email"),
        counts["ip"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
        F.md5(redact_text(pii_text)).alias("redacted_md5"),
    )
