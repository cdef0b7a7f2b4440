"""BPE-style merge induction — tokenizer training as a Spark job.

A training-data pipeline at 100 TB doesn't just APPLY a tokenizer
(functions/text_funcs, txt_bpe_pretoken_stats); it trains one. The core
of BPE training (Sennrich et al. 2016) is the iterative loop:

    count adjacent symbol pairs -> take the most frequent pair ->
    merge every occurrence -> repeat

run here at word level over the corpus token sequences. Each iteration
is one explode+groupBy (pair counts, map-side combinable), a 1-row
argmax broadcast, and a per-row array fold (the greedy merge) — no
shuffle grows with the merge table, and the corpus never leaves the
executors. The reference has no tokenizer tier; this is part of the
§2.12 training-data surface.

Determinism contract (what makes the DuckDB oracle exact):
- best pair = max by (count, then lexicographic a, b) — a total order;
- candidate pairs require a != b. A same-token run ("a a a") is the one
  case where greedy left-to-right and all-occurrences merging diverge;
  excluding it makes the greedy fold EQUAL to disjoint mark-and-merge,
  which is what the relational oracle replays. (Run-merges are a
  negligible tail in word-level corpora.)
- merged symbols join with '_'; original tokens never contain '_'
  (the tokenizer splits on whitespace only — callers with underscore
  tokens must pre-escape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _token_seqs(df: DataFrame) -> DataFrame:
    toks = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda t: t != F.lit("")
    )
    return df.select(F.col("doc_id"), toks.alias("tok")).filter(
        F.size("tok") > 0
    )


def _adjacent_pairs(seqs: DataFrame) -> DataFrame:
    """(a, b, w) rows for every adjacent position, a != b; w is the
    owning sequence's multiplicity (1 when seqs carries no `mult`)."""
    n = F.size("tok")
    zipped = F.when(
        n >= 2,
        F.zip_with(
            F.slice("tok", 1, n - 1),
            F.slice("tok", 2, n - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    w = F.col("mult") if "mult" in seqs.columns else F.lit(1).cast("long")
    return (
        seqs.select(F.explode(zipped).alias("p"), w.alias("w"))
        .select("p.a", "p.b", "w")
        .filter(F.col("a") != F.col("b"))
    )


def _merge_fold(a_col, b_col):
    """Greedy left-to-right merge of (a, b) as an array fold. With
    a != b every occurrence is disjoint, so the fold equals the
    relational mark-and-drop the oracle uses."""
    merged = F.concat_ws("_", a_col, b_col)

    def step(acc, t):
        hit = (
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a_col) & (t == b_col)
        )
        return F.when(
            hit,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(t)))

    return lambda tok: F.aggregate(tok, F.array().cast("array<string>"), step)


# merge iterations of bpe_merge_steps, shared with its DuckDB replay
# (queries/lm_q._bpe_oracle)
BPE_STEPS = 3


def bpe_merge_steps(df: DataFrame) -> DataFrame:
    """Run BPE_STEPS merge iterations over (doc_id, text) rows; returns
    one row per step:
    (step, merge_a, merge_b, pair_count, corpus_tokens_after).

    The loop runs over DISTINCT token sequences with multiplicity, not
    raw documents: pair counts weight by `mult`, the merge fold touches
    each distinct sequence once, and sequences re-collapse after every
    merge (two sequences can become equal once a pair fuses). Identical
    results — a document's pairs and its post-merge sequence depend
    only on its token sequence — but per-step cost scales with distinct
    CONTENT, which on template-heavy corpora (the normal web-crawl
    case) is orders of magnitude below document count.

    The per-step argmax is a collected 1-row control-plane scalar: the
    merge pair rides into the fold as literals (no per-step crossJoin),
    and an EMPTY argmax (no a != b adjacent pair left anywhere) breaks
    the loop — BPE training is exhausted — instead of silently
    annihilating the corpus through a join against zero rows."""
    spark = df.sparkSession
    seqs = (
        _token_seqs(df)
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("mult"))
        .localCheckpoint(eager=False)
    )
    rows: list[tuple] = []
    for k in range(1, BPE_STEPS + 1):
        best = (
            _adjacent_pairs(seqs)
            .groupBy("a", "b")
            .agg(F.sum("w").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break  # merge table exhausted: no qualifying pair remains
        a, b, pair_count = best[0]["a"], best[0]["b"], best[0]["pair_count"]
        seqs = (
            seqs.select(
                _merge_fold(F.lit(a), F.lit(b))(F.col("tok")).alias("tok"), "mult"
            )
            .groupBy("tok")
            .agg(F.sum("mult").alias("mult"))
            .localCheckpoint(eager=False)  # truncate the per-step plan chain
        )
        total = seqs.agg(
            F.sum(F.size("tok") * F.col("mult")).cast("long")
        ).collect()[0][0]
        rows.append((k, a, b, pair_count, total))
    return spark.createDataFrame(
        rows,
        "step long, merge_a string, merge_b string, "
        "pair_count long, corpus_tokens_after long",
    )
