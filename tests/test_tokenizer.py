"""BPE merge induction: hand-computed merge table + greedy semantics."""

from bigdatanycdiseasesurveillance_spark.operators import tokenizer
from bigdatanycdiseasesurveillance_spark.operators.tokenizer import bpe_merge_steps


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_bpe_merge_table_hand_computed(spark):
    # pairs: (the,cat) x2, (cat,sat) x2, (cat,ran), (a,cat)
    # step1 tie 2-2 breaks lexicographically -> (cat,sat); then all 1s
    # break to (a,cat_sat), then (cat,ran)
    df = _docs(spark, ["the cat sat", "the cat ran", "a cat sat"])
    rows = {r["step"]: r for r in bpe_merge_steps(df).collect()}
    assert (rows[1]["merge_a"], rows[1]["merge_b"], rows[1]["pair_count"]) == (
        "cat",
        "sat",
        2,
    )
    assert rows[1]["corpus_tokens_after"] == 7  # 9 tokens - 2 merges
    assert (rows[2]["merge_a"], rows[2]["merge_b"]) == ("a", "cat_sat")
    assert rows[2]["corpus_tokens_after"] == 6
    assert (rows[3]["merge_a"], rows[3]["merge_b"]) == ("cat", "ran")
    assert rows[3]["corpus_tokens_after"] == 5


def test_bpe_greedy_fold_disjoint_chain(spark, monkeypatch):
    # "a b a b a": (a,b) occurrences at 0 and 2 are disjoint -> both
    # merge in one pass; trailing 'a' survives. 5 tokens -> 3.
    df = _docs(spark, ["a b a b a"])
    monkeypatch.setattr(tokenizer, "BPE_STEPS", 1)
    r1 = bpe_merge_steps(df).collect()[0]
    assert (r1["merge_a"], r1["merge_b"], r1["pair_count"]) == ("a", "b", 2)
    assert r1["corpus_tokens_after"] == 3


def test_bpe_excludes_same_token_runs(spark, monkeypatch):
    # (x,x) pairs dominate by count but are excluded (a != b): the
    # chosen merge must be (x,y), the best heterogeneous pair.
    df = _docs(spark, ["x x x x x y", "x x x x x y"])
    monkeypatch.setattr(tokenizer, "BPE_STEPS", 1)
    r1 = bpe_merge_steps(df).collect()[0]
    assert (r1["merge_a"], r1["merge_b"]) == ("x", "y")


def test_bpe_exhaustion_stops_cleanly(spark):
    # a corpus with NO qualifying (a != b) adjacent pair after step 1:
    # the loop must emit only the completed steps, never annihilate the
    # corpus through a join against an empty argmax
    df = _docs(spark, ["x y", "x y"])
    rows = bpe_merge_steps(df).collect()
    assert len(rows) == 1
    assert (rows[0]["merge_a"], rows[0]["merge_b"]) == ("x", "y")
    assert rows[0]["corpus_tokens_after"] == 2  # two docs of one merged token


def test_bpe_multiplicity_collapse_matches_duplicates(spark, monkeypatch):
    # duplicated docs must behave exactly like multiplicity weights
    base = ["the cat sat", "the cat ran", "a cat sat"]
    monkeypatch.setattr(tokenizer, "BPE_STEPS", 2)
    a = bpe_merge_steps(_docs(spark, base)).collect()
    b = bpe_merge_steps(_docs(spark, base * 3)).collect()
    for ra, rb in zip(sorted(a), sorted(b)):
        assert (ra["merge_a"], ra["merge_b"]) == (rb["merge_a"], rb["merge_b"])
        assert rb["pair_count"] == 3 * ra["pair_count"]
        assert rb["corpus_tokens_after"] == 3 * ra["corpus_tokens_after"]
