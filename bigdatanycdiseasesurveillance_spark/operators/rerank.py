"""Two-stage retrieval reranking (candidate generation -> pairwise
scorer on candidates only).

The production pattern behind every RAG/search stack: a cheap
corpus-wide candidate stage (BM25 / ANN) feeds an expensive pairwise
model (a cross-encoder) that scores only the K survivors. The engine
form mirrors the M4 embedding encoder exactly (reference:
src/spark_consumers/embedding_consumer.py:97-170 for the model-bearing
stage pattern): mapInPandas with a per-worker model singleton, and a
deterministic md5-derived stand-in when the model package is absent —
the stand-in is what the DuckDB oracle replays bit-for-bit, so the
whole two-stage plan is value-checked end to end.

Scale: the reranker touches K rows per query, never the corpus. The
candidate stage's plan is the BM25 explode->groupBy (see ir_q); the
rerank stage is a constant-size Arrow batch per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CE_SCALE = float(1 << 60)
# the one query the rerank stage scores (ir_q's BM25 query terms, joined)
RERANK_QUERY = "data stream join"


def ce_sql(id_expr: str = "doc_id") -> str:
    """DuckDB twin of the md5 pseudo-cross-encoder below."""
    return (
        f"CAST(('0x' || substr(md5('ce:{RERANK_QUERY}:' || CAST({id_expr} AS VARCHAR)),"
        f" 1, 15)) AS BIGINT) / {CE_SCALE!r}"
    )


def cross_encoder_scores(candidates: DataFrame) -> DataFrame:
    """Append a pairwise (RERANK_QUERY, doc) relevance score `ce_score`
    to a K-row candidate frame keyed by doc_id. Real path: a
    sentence-transformers CrossEncoder held as a per-worker singleton;
    hermetic path: md5('ce:' || query || ':' || doc_id) scaled to
    [0, 1) — deterministic and SQL-replayable."""
    query_text = RERANK_QUERY
    cols = candidates.columns
    schema = candidates.schema.simpleString()[7:-1] + ",ce_score double"

    def score_batches(batch_iter):
        import hashlib

        model = None
        try:  # production path, absent in this container
            from sentence_transformers import CrossEncoder  # type: ignore

            model = CrossEncoder("cross-encoder/ms-marco-MiniLM-L-6-v2")
        except Exception:
            model = None

        for pdf in batch_iter:
            if model is not None and "text" in pdf.columns:
                scores = model.predict(
                    [(query_text, t or "") for t in pdf["text"]]
                ).tolist()
            else:
                scores = [
                    (
                        int.from_bytes(
                            hashlib.md5(
                                f"ce:{query_text}:{i}".encode()
                            ).digest()[:8],
                            "big",
                        )
                        >> 4
                    )
                    / CE_SCALE
                    for i in pdf["doc_id"]
                ]
            pdf = pdf[cols].copy()
            pdf["ce_score"] = scores
            yield pdf

    return candidates.mapInPandas(score_batches, schema)
