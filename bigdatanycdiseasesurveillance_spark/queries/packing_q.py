"""Sequence-packing query corpus (operators/packing.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text_funcs import token_count
from ..operators.packing import pack_concat_chunks, pack_greedy_ffd
from ..registry import register
from ..tables import table


def _with_tokens(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    n = F.expr(token_count("text"))
    return d.select("doc_id", n.cast("long").alias("n_tokens"))


@register(
    "pack_concat_chunks_spans",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                                        x -> x <> '')) AS BIGINT) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS end_tok
            FROM t
        )
        SELECT doc_id, n_tokens,
               CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
               CAST(end_tok AS BIGINT) AS end_tok,
               CAST((end_tok - n_tokens) // 256 AS BIGINT) AS first_chunk,
               CAST((end_tok - 1) // 256 AS BIGINT) AS last_chunk,
               CAST((end_tok - 1) // 256 - (end_tok - n_tokens) // 256 + 1
                    AS BIGINT) AS n_chunks_spanned
        FROM c
    """,
    tags=("packing", "training-data"),
)
def pack_concat_chunks_spans(spark, sf_dir):
    """GPT-style concat-and-chunk packing accounting: each doc's token
    span in the concatenated stream and the 256-token training chunks
    it lands in. One cumulative-sum window — fully SQL-replayable."""
    return pack_concat_chunks(_with_tokens(spark, sf_dir))


@register(
    "pack_greedy_ffd_profile",
    # Bin packing is inherently sequential per bucket (no SQL twin for
    # the pack assignment itself), so this is a self-verifying
    # contract: conservation laws the oracle recomputes exactly (every
    # doc packed exactly once, total tokens preserved) plus invariants
    # pinned as constants (no pack over budget except oversize
    # singletons; pack count within 1.15x + n_buckets of the corpus
    # lower bound — measured 1.028-1.037). A packing bug breaks a
    # conservation value or flips a pinned constant, turning the row
    # red.
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                                        x -> x <> '')) AS BIGINT) AS n_tokens
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS total_docs_packed,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS distinct_docs_packed,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(0 AS BIGINT) AS n_overfull_packs,
               TRUE AS packs_near_optimal
        FROM t
    """,
    tags=("packing", "training-data"),
)
def pack_greedy_ffd_profile(spark, sf_dir):
    """Boundary-respecting FFD packing (instruction-tuning layout),
    certified by conservation + quality contract: bucketed
    applyInPandas packs (Arrow batch per bucket, pack ids namespaced
    by bucket), then one summary row the oracle value-checks. The
    per-pack fill profile stays available via operators/packing.py and
    tests/test_packing.py."""
    packed = pack_greedy_ffd(_with_tokens(spark, sf_dir))
    ps = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("ptok"),
        F.count("*").alias("ndocs"),
        F.max("n_tokens").alias("maxtok"),
    )
    oversize = (F.col("ndocs") == 1) & (F.col("maxtok") > 256)
    agg = ps.agg(
        F.sum("ndocs").cast("long").alias("total_docs_packed"),
        F.sum("ptok").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("n_packs"),
        F.sum(F.when((F.col("ptok") > 256) & ~oversize, 1).otherwise(0))
        .cast("long")
        .alias("n_overfull_packs"),
        F.sum(F.when(oversize, 1).otherwise(0)).cast("long").alias("n_oversize"),
        F.sum(F.when(F.col("maxtok") <= 256, F.col("ptok")).otherwise(0))
        .cast("long")
        .alias("small_tokens"),
    )
    dd = packed.agg(
        F.countDistinct("doc_id").cast("long").alias("distinct_docs_packed")
    )
    return agg.crossJoin(F.broadcast(dd)).select(
        "total_docs_packed",
        "distinct_docs_packed",
        "total_tokens",
        "n_overfull_packs",
        (
            (F.col("n_packs") - F.col("n_oversize"))
            <= F.ceil(F.col("small_tokens") / 256.0) * 1.15 + 8
        ).alias("packs_near_optimal"),
    )


@register(
    "chunk_sliding_windows",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
            FROM documents
        ), tt AS (
            SELECT doc_id, tok, len(tok) AS n FROM t WHERE len(tok) > 0
        ), c AS (
            SELECT doc_id, tok, n,
                   unnest(range(((n - 1) // 20) + 1)) AS chunk_idx
            FROM tt
        )
        SELECT doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(chunk_idx * 20 AS BIGINT) AS start_tok,
               CAST(LEAST(32, n - chunk_idx * 20) AS BIGINT) AS chunk_len,
               array_to_string(list_slice(tok, CAST(chunk_idx * 20 + 1 AS BIGINT),
                                          CAST(chunk_idx * 20 + 32 AS BIGINT)),
                               ' ') AS chunk_text
        FROM c
    """,
    tags=("chunking", "llm-prep", "packing"),
)
def chunk_sliding_windows(spark, sf_dir):
    """Sliding-window chunking with overlap (size 32, stride 20 tokens):
    every document becomes ceil(n/stride) overlapping chunks with token
    spans — the long-context/RAG layout that complements the two packing
    strategies. Shuffle-free column arithmetic (tokenize once, explode
    chunk indices, slice); scales with the scan."""
    from ..operators.packing import sliding_chunks

    return sliding_chunks(
        table(spark, sf_dir, "documents"), size=32, stride=20
    )
