"""Property-based checks (hypothesis) for the column-expression
libraries: invariants that must hold for ANY input, not just fixtures.
Each property generates a batch of random rows, builds ONE DataFrame,
and checks the invariant over all rows — one Spark job per example."""

from __future__ import annotations

import math
import re

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.functions.text_funcs import (
    distinct_tokens,
    fingerprint,
    normalized,
    sentences,
    tokens,
    word_jaccard,
    words,
)
from bigdatanycdiseasesurveillance_spark.functions.vectors import dot, unit

TEXT = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Zs")),
    max_size=60,
)
# includes exact-zero components (and therefore all-zero vectors): the
# zero-norm contract (unit() clamps the divisor; GEMM clamps norms) must
# agree between the expression and kernel paths, and a strategy that
# filters zeros out can never catch a divergence there
VEC = st.lists(
    st.one_of(
        st.just(0.0),
        st.floats(min_value=-5, max_value=5, allow_nan=False, width=32),
    ),
    min_size=4,
    max_size=4,
)

_SETTINGS = dict(
    max_examples=5,
    deadline=None,  # Spark job latency varies wildly under suite load
    suppress_health_check=list(HealthCheck),
)


@settings(**_SETTINGS)
@given(st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=20))
def test_jaccard_bounded_symmetric_reflexive(spark, pairs):
    df = spark.createDataFrame(pairs, "a string, b string")
    out = df.select(
        F.expr(word_jaccard(distinct_tokens("a"), distinct_tokens("b"))).alias("jab"),
        F.expr(word_jaccard(distinct_tokens("b"), distinct_tokens("a"))).alias("jba"),
        F.expr(word_jaccard(distinct_tokens("a"), distinct_tokens("a"))).alias("jaa"),
        (F.size(F.expr(distinct_tokens("a"))) > 0).alias("a_nonempty"),
    ).collect()
    for r in out:
        if r["jab"] is not None and not math.isnan(r["jab"]):
            assert -1e-9 <= r["jab"] <= 1 + 1e-9
            assert abs(r["jab"] - r["jba"]) < 1e-9  # symmetric
        if r["a_nonempty"]:
            assert abs(r["jaa"] - 1.0) < 1e-9  # reflexive


ASCII_TEXT = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz0123456789 !,."),
    max_size=60,
)


# fixed extra inputs for the text helpers: empty, whitespace-only,
# punctuation-only, mixed case with a sentence break, and NULL
EDGE_TEXTS = ["", "   ", "!!,. .", "MiXeD  CaSe words. Next one", None]


def _closed_forms(s: str) -> dict:
    """What each text_funcs helper returns for `s`, in plain Python."""
    sents = re.split(r"\.\s+", re.sub(r"((?:\S+ ){9}\S+) ", r"\1. ", s))
    return {
        "words": [w for w in s.split(" ") if w],
        "tokens": [w for w in s.lower().split(" ") if w],
        "sentences": sents,
        "normalized": re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", s.lower()).strip(" ")),
    }


@settings(**_SETTINGS)
@given(st.lists(ASCII_TEXT, min_size=1, max_size=20))
def test_fingerprint_normalization_invariance(spark, texts):
    """Fingerprint ignores ASCII case and whitespace runs — the
    exact-dedup equivalence classes the reference's SHA tier implies.
    (ASCII only: Unicode case mappings like 'ŉ'->'ʼN' are not
    length-preserving and are out of scope for the normalizer.)
    The text helpers under it (words, tokens, sentences, normalized)
    equal their closed forms in Python, and map NULL to NULL."""
    rows = [
        (
            t,
            None if t is None else t.upper(),
            None if t is None else " ".join(t.split()) + " ",
        )
        for t in texts + EDGE_TEXTS
    ]
    df = spark.createDataFrame(rows, "t string, up string, ws string")
    out = df.select(
        "t",
        (F.expr(fingerprint("t")) == F.expr(fingerprint("up"))).alias("case_inv"),
        (F.expr(fingerprint("t")) == F.expr(fingerprint("ws"))).alias("ws_inv"),
        F.expr(words("t")).alias("words"),
        F.expr(tokens("t")).alias("tokens"),
        F.expr(sentences("t")).alias("sentences"),
        F.expr(normalized("t")).alias("normalized"),
    ).collect()
    for r in out:
        if r["t"] is None:
            assert all(v is None for v in r), r
            continue
        assert r["case_inv"] and r["ws_inv"]
        assert {k: r[k] for k in _closed_forms(r["t"])} == _closed_forms(r["t"]), r


@settings(**_SETTINGS)
@given(st.lists(VEC, min_size=1, max_size=20))
def test_unit_vectors_have_norm_one(spark, vecs):
    """Nonzero vectors normalize to norm 1; the zero vector maps to
    itself (norm 0) per the clamped-divisor contract — never NaN."""
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    out = df.select(
        dot(unit(F.col("v")), unit(F.col("v"))).alias("nn"),
        (F.aggregate(F.transform("v", F.abs), F.lit(0.0), lambda s, x: s + x) > 0).alias(
            "nonzero"
        ),
    ).collect()
    for r in out:
        assert not math.isnan(r["nn"])
        assert abs(r["nn"] - (1.0 if r["nonzero"] else 0.0)) < 1e-9


def _mask_keys(s: str) -> set:
    """All two-position-wildcarded variants of s (the masked-
    neighborhood blocking keys of queries/editsim_q.py), pure-Python
    model for the property check."""
    out = set()
    for i in range(len(s)):
        for j in range(i + 1, len(s)):
            out.add(s[:i] + "*" + s[i + 1 : j] + "*" + s[j + 1 :])
    return out


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.text(alphabet="ab", min_size=2, max_size=12),
    st.data(),
)
def test_masked_neighborhood_covers_every_hamming_le2_pair(base, data):
    """For ANY same-length pair with Hamming distance 1 or 2, the two
    strings share at least one masked key (lossless blocking); and a
    pair sharing a masked key has Hamming <= 2 (no false candidates
    beyond the two masked positions)."""
    # mutate base at one or two positions to force a qualifying pair
    n = len(base)
    k = data.draw(st.integers(min_value=1, max_value=min(2, n)))
    pos = sorted(data.draw(st.lists(st.integers(0, n - 1), min_size=k, max_size=k, unique=True)))
    other = list(base)
    for p in pos:
        other[p] = "b" if base[p] == "a" else "a"
    other = "".join(other)
    shared = _mask_keys(base) & _mask_keys(other)
    assert shared, (base, other)
    # soundness: any shared mask implies mismatches only at its stars
    for m in shared:
        stars = [i for i, ch in enumerate(m) if ch == "*"]
        d = sum(1 for i in range(n) if base[i] != other[i])
        assert d <= len(stars)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), VEC),
        min_size=2,
        max_size=24,
        unique_by=lambda t: (t[0], tuple(t[1])),
    )
)
def test_gemm_pairs_equal_expression_pairs_any_vectors(spark, rows):
    """For ANY block layout and float32 vectors, the chunked-GEMM pairs
    kernel and the zip_with/aggregate expression formulation must emit
    the same (id_a, id_b, rounded-cosine) set — including across chunk
    boundaries (chunk=3) and degenerate 1-member blocks."""
    from unittest import mock

    from bigdatanycdiseasesurveillance_spark.operators import dedup as D

    data = [(i, blk, v) for i, (blk, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "vec_id long, label int, embedding array<float>"
    )
    # (a fixture monkeypatch would outlive one hypothesis example)
    with mock.patch.object(D, "COSINE_DUP_THRESHOLD", -2.0), mock.patch.object(
        D, "GEMM_CHUNK", 3
    ):
        expr = {
            (r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in D.embedding_cosine_pairs(df).collect()
        }
        gemm = {
            (r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in D.embedding_cosine_pairs_gemm(df, threshold=-2.0).collect()
        }
    assert set(gemm) == set(expr)
    for k, v in gemm.items():
        # both sides round to 4; tolerate ONE rounding step for the
        # (theoretical) case where summation-order drift straddles a
        # rounding boundary — a kernel bug shows up orders larger
        assert abs(v - expr[k]) <= 1.0001e-4, (k, v, expr[k])
