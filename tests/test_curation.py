"""Invariants for the curation tier: shingles, decontamination,
domain caps, repetition signals, prefix-filter set-similarity join,
and int8 quantization."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.operators.curation import (
    cap_per_domain,
    decontaminate,
    repetition_signals,
    token_shingles,
)
from bigdatanycdiseasesurveillance_spark.operators.setsim import (
    prefix_filter_jaccard_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_token_shingles_exact_and_short(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, ""), (4, None)], "id long, text string"
    )
    out = {
        r["id"]: r["sh"]
        for r in df.select("id", token_shingles(3).alias("sh")).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []  # shorter than n -> empty, never [1, 0] descent
    assert out[3] == []
    assert out[4] in (None, [])  # null text -> no shingles


def test_decontaminate_flags_exact_benchmark_copy(spark):
    bench = _docs(spark, [(100, "one two three four five six", "b")])
    corpus = _docs(
        spark,
        [
            (1, "one two three four five six", "c"),  # exact copy: 2 shingles
            (2, "totally different words here now indeed", "c"),
        ],
    )
    rows = {r["doc_id"]: r for r in decontaminate(corpus, bench).collect()}
    assert set(rows) == {1}
    assert rows[1]["n_hit_shingles"] == 2
    assert rows[1]["n_bench_docs"] == 1


def test_decontaminate_broadcasts_benchmark(spark):
    bench = _docs(spark, [(100, "one two three four five six", "b")])
    corpus = _docs(spark, [(1, "one two three four five six", "c")])
    plan = decontaminate(corpus, bench)._sc is None or decontaminate(
        corpus, bench
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cap_per_domain_quota_and_determinism(spark):
    rows = [(i, f"t{i}", f"s{i % 3}") for i in range(60)]
    df = _docs(spark, rows)
    out = cap_per_domain(df, cap=5)
    kept = out.filter("keep").groupBy("source").count().collect()
    assert all(r["count"] == 5 for r in kept)
    # layout independence: same kept set after a repartition
    a = sorted(r["doc_id"] for r in out.filter("keep").collect())
    b = sorted(
        r["doc_id"]
        for r in cap_per_domain(df.repartition(13), cap=5).filter("keep").collect()
    )
    assert a == b


def test_repetition_signals_hand_computed(spark):
    df = _docs(spark, [(1, "a b a b a", "s"), (2, "x y z w", "s")])
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    # doc 1 bigrams: [a b, b a, a b, b a] -> 4 total, 2 distinct
    assert out[1]["n_grams"] == 4
    assert out[1]["dup_gram_frac"] == 0.5
    assert out[1]["top_gram_share"] == 0.5
    # doc 2 bigrams all distinct
    assert out[2]["n_grams"] == 3
    assert out[2]["dup_gram_frac"] == 0.0
    assert abs(out[2]["top_gram_share"] - 0.3333) < 1e-9


def test_prefix_filter_join_is_exact(spark, monkeypatch):
    from bigdatanycdiseasesurveillance_spark.operators import setsim as SS

    # cross-"source" near-dups that (source, length)-blocked dedup
    # cannot see; brute force is the ground truth.
    rows = [
        (1, "alpha beta gamma delta epsilon", "s1"),
        (2, "alpha beta gamma delta epsilon", "s2"),  # exact dup, other source
        (3, "alpha beta gamma delta zeta", "s1"),
        (4, "completely unrelated tokens here", "s2"),
        (5, "alpha beta gamma delta epsilon zeta", "s3"),
        (6, "one two three four five", "s1"),
        (7, "one two three four five six seven", "s2"),
    ]
    df = _docs(spark, rows)
    monkeypatch.setattr(SS, "PREFIX_JACCARD_THRESHOLD", 0.6)
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in prefix_filter_jaccard_pairs(df).collect()
    )

    from bigdatanycdiseasesurveillance_spark.functions.text_funcs import (
        distinct_tokens,
        word_jaccard,
    )

    t = df.select(F.col("doc_id").alias("id"), F.expr(distinct_tokens("text")).alias("tok"))
    brute = (
        t.alias("a")
        .crossJoin(t.alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(F.expr(word_jaccard("a.tok", "b.tok")), 4).alias("j"),
        )
        .filter(F.col("j") >= 0.6)
    )
    want = sorted((r["id_a"], r["id_b"], r["j"]) for r in brute.collect())
    assert got == want
    assert (1, 2, 1.0) in got  # the cross-source exact dup is present


def test_zorder_bucket_locality_bound(spark, sf_dir):
    """Every 2^12-wide z-range holds a 64x64 rectangle: x/y spans <= 63.
    This IS the file-pruning guarantee a z-clustered write provides."""
    from bigdatanycdiseasesurveillance_spark.registry import all_specs

    rows = all_specs()["layout_zorder_profile"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["x_max"] - r["x_min"] <= 63, r
        assert r["y_max"] - r["y_min"] <= 63, r


def test_streaming_session_window_equals_batch(spark, sf_dir):
    from bigdatanycdiseasesurveillance_spark.registry import all_specs

    specs = all_specs()
    a = sorted(map(tuple, specs["stream_session_window"].fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, specs["win_session_window"].fn(spark, sf_dir).collect()))
    assert a == b


def test_prefix_filter_join_plan_has_no_cartesian(spark, sf_dir):
    """The exact unblocked similarity join must stay an equi-join plan:
    any CartesianProduct/BroadcastNestedLoop would mean the prefix
    scheme silently degenerated to all-pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = prefix_filter_jaccard_pairs(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_pair_stats_candidates_stay_bounded(spark, sf_dir):
    """The bounded stats contract evaluates the prefix-filter rule as a
    prefix-BITMASK popcount over the distinct-set relation (see
    jaccard_pair_stats: the tiny-vocab equi-join emits ~3n^2
    pre-distinct rows, 6x worse than the n^2/2 popcount cross). Allowed
    nested-loop joins: the distinct-set candidate cross (broadcast,
    set-count-bounded) and the 1-row totals scalar attach — and the
    corpus-sized relations must never appear under a nested-loop
    (the only joins touching per-DOC rows stay hash equi-joins)."""
    from bigdatanycdiseasesurveillance_spark.registry import all_specs

    df = all_specs()["dedup_prefix_jaccard"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoop") <= 2, plan


def test_pair_stats_matches_pair_list(spark):
    """The collapsed stats row must equal the brute-force pair list
    aggregated: same pair count and the same fixed-point jaccard sum
    (within-set dup pairs included)."""
    from bigdatanycdiseasesurveillance_spark.operators.setsim import (
        jaccard_pair_stats,
        minhash_md5_pair_stats,
    )
    from bigdatanycdiseasesurveillance_spark.operators.dedup import minhash_md5_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon", "s1"),
        (2, "alpha beta gamma delta epsilon", "s2"),  # exact dup pair (j=1.0)
        (3, "alpha beta gamma delta zeta", "s1"),
        (4, "completely unrelated tokens here", "s2"),
        (5, "alpha beta gamma delta epsilon zeta", "s3"),
        (6, "one two three four five", "s1"),
        (7, "one two three four five six seven", "s2"),
        (8, "epsilon delta gamma beta alpha", "s3"),  # same SET as 1/2, other order
    ]
    df = _docs(spark, rows)

    pairs = prefix_filter_jaccard_pairs(df).collect()
    stats = jaccard_pair_stats(df, threshold=0.7).collect()[0]
    assert stats["n_docs"] == 8
    assert stats["n_sets"] == 6  # docs 1,2,8 share one token set
    assert stats["n_pairs"] == len(pairs)
    # fixed-point (20000*i+u) DIV (2*u) equals round-half-up(j*10000)
    want_sum = sum(int(round(r["jaccard"] * 10000)) for r in pairs)
    assert stats["jaccard_sum_e4"] == want_sum
    assert 0 <= stats["pair_digest"] < 1_000_003

    mh_pairs = minhash_md5_pairs(df).collect()
    mh_stats = minhash_md5_pair_stats(df).collect()[0]
    assert mh_stats["n_pairs"] == len(mh_pairs)
    assert mh_stats["jaccard_sum_e4"] == sum(
        int(round(r["jaccard"] * 10000)) for r in mh_pairs
    )


def test_mask_kernel_rejects_open_vocabulary(spark):
    import pytest

    from bigdatanycdiseasesurveillance_spark.operators.setsim import (
        jaccard_pair_stats,
    )

    big_vocab = spark.range(70).selectExpr(
        "id AS doc_id", "concat('tok', id) AS text", "'s' AS source"
    )
    with pytest.raises(ValueError, match="vocabulary <= 63"):
        jaccard_pair_stats(big_vocab).collect()


def test_misra_gries_candidates_superset_of_heavy_hitters(spark, monkeypatch):
    """MG with k counters must surface every item with freq > n/k,
    whatever the partition layout."""
    from bigdatanycdiseasesurveillance_spark.operators import sketches
    from bigdatanycdiseasesurveillance_spark.operators.sketches import (
        heavy_hitters_exact,
        misra_gries_candidates,
    )

    monkeypatch.setattr(sketches, "HH_DENOM", 8)
    # skewed: 'hot' appears 400/1000, 'warm' 200, the rest singletons
    vals = ["hot"] * 400 + ["warm"] * 200 + [f"cold{i}" for i in range(400)]
    items = spark.createDataFrame([(v,) for v in vals], "token string").repartition(7)
    cand = {r["token"] for r in misra_gries_candidates(items).collect()}
    exact = {
        r["token"]: r["cnt"]
        for r in items.groupBy("token").count().withColumnRenamed("count", "cnt").collect()
        if r["cnt"] * 8 > 1000
    }
    assert set(exact) <= cand
    hh = {r["token"]: r["cnt"] for r in heavy_hitters_exact(items).collect()}
    assert hh == {"hot": 400, "warm": 200}


def test_take_token_budget_fills_with_one_doc_overshoot(spark, monkeypatch):
    from bigdatanycdiseasesurveillance_spark.operators import sampling
    from bigdatanycdiseasesurveillance_spark.operators.sampling import (
        take_token_budget,
    )

    monkeypatch.setattr(sampling, "TOKEN_BUDGETS", {"s0": 95})
    rows = [(i, "s0" if i < 40 else "s1", 10) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, source string, ntok long")
    out = take_token_budget(df, default_budget=25)
    kept = (
        out.filter("keep")
        .groupBy("source")
        .agg(F.sum("ntok").alias("tok"), F.count("*").alias("n"))
        .collect()
    )
    by = {r["source"]: r for r in kept}
    # budget 95, docs of 10 tokens -> 10 docs (cum_before 90 < 95), 100 tokens
    assert by["s0"]["n"] == 10 and by["s0"]["tok"] == 100
    # budget 25 -> 3 docs, 30 tokens
    assert by["s1"]["n"] == 3 and by["s1"]["tok"] == 30
    # layout independence
    a = sorted(r["doc_id"] for r in out.filter("keep").collect())
    b = sorted(
        r["doc_id"]
        for r in take_token_budget(df.repartition(11), default_budget=25)
        .filter("keep")
        .collect()
    )
    assert a == b


def test_quantize_int8_error_bound_and_zero_vector(spark):
    from bigdatanycdiseasesurveillance_spark.functions.vectors import (
        as_double,
        dequantize,
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.125]), (2, [0.0, 0.0, 0.0, 0.0])],
        "id long, v array<float>",
    )
    q = quantize_int8(F.col("v"))
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            q["scale"].alias("s"),
            q["q"].alias("qv"),
            F.zip_with(
                as_double(F.col("v")), dequantize(q), lambda a, b: F.abs(a - b)
            ).alias("err"),
        ).collect()
    }
    # max quantization error is scale/2 per element
    s1 = out[1]["s"]
    assert max(out[1]["err"]) <= s1 / 2 + 1e-12
    assert all(-127 <= x <= 127 for x in out[1]["qv"])
    # zero vector: no div-by-zero, dequantizes to zeros
    assert out[2]["qv"] == [0, 0, 0, 0]
    assert max(out[2]["err"]) == 0.0


def test_nb_quality_classifier_separates_seed_tokens(spark):
    """A doc made of positive-seed-exclusive tokens must score keep;
    one made of negative-exclusive tokens must score drop; and the
    log-odds must replay by hand from the Laplace-smoothed counts."""
    import math

    from bigdatanycdiseasesurveillance_spark.operators.curation import (
        nb_quality_scores,
    )

    docs = _docs(
        spark,
        [
            (1, "good clean prose good clean", "src0"),
            (2, "spam junk noise spam junk", "srcX"),
            (3, "good clean prose", "srcY"),  # pos-like holdout -> keep
            (4, "spam junk noise", "srcZ"),  # neg-like holdout -> drop
        ],
    )
    rows = {r["doc_id"]: r for r in nb_quality_scores(docs).collect()}
    assert rows[3]["quality_keep"] is True
    assert rows[4]["quality_keep"] is False
    assert rows[1]["quality_keep"] is True and rows[2]["quality_keep"] is False

    # hand replay for doc 3: vocab v=6, pos_n=5, neg_n=11 occurrences
    # (docs 2+4 contribute 8 neg, docs 3 contributes 3 neg... doc 3 is
    # NEGATIVE-class for training (source != src0), so neg counts
    # include its own tokens: good/clean/prose appear 2 pos + 1 neg.
    v, pos_n, neg_n = 6, 5, 11
    prior = math.log(1 / 3)
    llr = {
        "good": math.log((2 + 1) / (pos_n + v)) - math.log((1 + 1) / (neg_n + v)),
        "clean": math.log((2 + 1) / (pos_n + v)) - math.log((1 + 1) / (neg_n + v)),
        "prose": math.log((1 + 1) / (pos_n + v)) - math.log((1 + 1) / (neg_n + v)),
    }
    want = round(prior + llr["good"] + llr["clean"] + llr["prose"], 4)
    assert rows[3]["quality_logodds"] == want
    assert rows[3]["n_tokens"] == 3


def test_quantize_gemm_kernel_bitexact_vs_expressions(spark, sf_dir):
    """The numpy quantize step inside quantize_recall_gemm must be a
    BIT-EXACT twin of the dequantize(quantize_int8(...)) column
    expressions — cast, scale, floor, multiply are all element-wise
    IEEE ops with no summation, so equality is exact, not rounded."""
    import numpy as np

    from bigdatanycdiseasesurveillance_spark.functions.vectors import (
        dequantize,
        quantize_int8,
    )
    from bigdatanycdiseasesurveillance_spark.tables import table

    emb = table(spark, sf_dir, "embeddings").limit(50)
    rows = emb.select(
        "vec_id",
        "embedding",
        dequantize(quantize_int8(F.col("embedding"))).alias("edq"),
    ).collect()
    assert rows
    for r in rows:
        E = np.asarray(r["embedding"], dtype=np.float64)[None, :]
        scales = np.maximum(np.abs(E).max(axis=1) / 127.0, 1e-30)[:, None]
        got = (np.floor(E / scales + 0.5) * scales)[0]
        want = np.asarray(r["edq"], dtype=np.float64)
        assert got.tolist() == want.tolist(), r["vec_id"]


def test_gopher_rules_empty_and_tiny_docs(spark, sf_dir, monkeypatch):
    """Empty/whitespace docs must flow through every rule (n_words = 0
    fails the guards, never NaNs or crashes) and pass counts must be
    exact on a hand corpus."""
    from bigdatanycdiseasesurveillance_spark.queries.curation_q import (
        cur_gopher_rules,
    )
    import bigdatanycdiseasesurveillance_spark.queries.curation_q as CQ

    rows = [
        (1, ""),                      # empty -> every guarded rule fails
        (2, "   "),                   # whitespace-only -> same
        (3, "the " * 30 + "a " * 30),  # 60 words, repetitive (the: 30/60)
        (4, " ".join(f"w{i}" for i in range(60)) + " the a"),  # diverse
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(CQ, "table", lambda _s, _d, _n: df)
    out = {r["rule"]: (r["n_pass"], r["n_fail"]) for r in
           cur_gopher_rules(spark, sf_dir).collect()}
    assert set(out) == {
        "min_words", "max_words", "mean_word_len", "stopword_floor",
        "repetition_cap", "uniq_floor",
    }
    assert all(p + f == 4 for p, f in out.values())
    # doc 3+4 have >= 50 words; 1+2 have zero
    assert out["min_words"] == (2, 2)
    # nothing here approaches the 100k upper gate
    assert out["max_words"] == (4, 0)
    # repetition: doc 3 most-common token is 30/60 > 20% -> fail;
    # doc 4 max count 1/62 -> pass; empty docs fail the word-count
    # gate the expensive expression is now guarded behind (r11 #2)
    assert out["repetition_cap"] == (1, 3)
    # stopwords: doc 3 has 60, doc 4 has 2 -> both pass
    assert out["stopword_floor"] == (2, 2)


def test_dsir_weights_direction(spark, sf_dir, monkeypatch):
    """DSIR importance weights must rank target-like documents above
    off-target ones: docs sharing the seed source's bigrams get higher
    log-weights."""
    from bigdatanycdiseasesurveillance_spark.queries import lm_q as LQ

    target_text = "clean reference prose sentence "
    rows = (
        [(i, target_text * 5, "src0") for i in range(6)]
        + [(10 + i, target_text * 5, "srcX") for i in range(3)]   # target-like
        + [(20 + i, "zz yy xx ww vv uu tt ss " * 4, "srcX") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    monkeypatch.setattr(LQ, "table", lambda _s, _d, _n: df)
    out = {r["doc_id"]: r["dsir_logweight"] for r in
           LQ.cur_importance_resampling(spark, sf_dir).collect()}
    like = [out[10 + i] for i in range(3) if 10 + i in out]
    unlike = [out[20 + i] for i in range(3) if 20 + i in out]
    assert like and unlike
    assert min(like) > max(unlike)


def test_perplexity_buckets_are_balanced_terciles(spark, sf_dir, monkeypatch):
    """Integer rank arithmetic must cut near-equal terciles and keep
    exactly the middle one."""
    from bigdatanycdiseasesurveillance_spark.queries import lm_q as LQ

    rows = [(i, " ".join(f"w{j % (i + 2)}" for j in range(20)), "s")
            for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    monkeypatch.setattr(LQ, "table", lambda _s, _d, _n: df)
    out = LQ.cur_perplexity_buckets(spark, sf_dir).collect()
    assert len(out) == 9
    sizes = {b: 0 for b in (0, 1, 2)}
    for r in out:
        sizes[r["ppl_bucket"]] += 1
        assert r["keep"] == (r["ppl_bucket"] == 1)
    assert sizes == {0: 3, 1: 3, 2: 3}
