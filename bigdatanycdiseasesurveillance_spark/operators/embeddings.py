"""Embedding generation (SURVEY §2.11 M4) as Arrow-batched mapInPandas.

The reference encodes with sentence-transformers all-MiniLM-L6-v2 on the
driver, record by record (reference:
src/spark_consumers/embedding_consumer.py:97-170, model load at 48-60).
Engine form: mapInPandas with an executor-local lazily-initialized model
singleton — the model loads once per Python worker, batches arrive as
Arrow frames, and the 384-dim output is a native array<float> column.

The real model isn't available in this container, so the encoder
resolves in order:
1. sentence-transformers, if importable (the production path);
2. a deterministic md5-derived pseudo-encoder (hermetic test path) —
   dim d of a text = int(md5(text || ':' || d)[:15 hex]) / 2^59 - 1,
   L2-normalized. The formula is ANSI-SQL-replayable (DuckDB computes
   the identical value), so queries built on the pseudo-encoder carry
   full value-hash oracles (see emb_encode_profile).

Both paths share the exact same Spark plumbing: schema, batch shape,
partitioning. Tests pin determinism and batch-size independence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 2^59: the 15-hex-digit (60-bit) md5 prefix scaled to [0, 2) then
# shifted to [-1, 1). Shared verbatim by the DuckDB oracle SQL.
MD5_DIM_SCALE = 1 << 59


def md5_dim_sql(text_expr: str, dim_expr: str) -> str:
    """DuckDB expression for one pseudo-encoder component — the SQL
    twin of the mapInPandas formula below, for oracle construction."""
    return (
        f"CAST(('0x' || substr(md5(COALESCE({text_expr}, '') || ':' || "
        f"CAST({dim_expr} AS VARCHAR)), 1, 15)) AS BIGINT) "
        f"/ {float(MD5_DIM_SCALE)} - 1.0"
    )


def encode_documents(docs: DataFrame, dim: int = 384, dtype: str = "float32") -> DataFrame:
    """Append an L2-normalized `embedding` column of the `text` column
    (all-MiniLM-L6-v2 where sentence-transformers is installed, the md5
    stand-in otherwise). One mapInPandas pass;
    the model/encoder initializes once per worker (not per batch).
    dtype="float64" keeps full precision for oracle-replayable paths."""
    from ..tables import parallelize_scan

    # the encoder is the per-core bottleneck: make sure a small scan
    # (single-row-group parquet = ONE split) doesn't serialize it
    docs = parallelize_scan(docs)
    elem = T.DoubleType() if dtype == "float64" else T.FloatType()
    fields = docs.schema.fields + [T.StructField("embedding", T.ArrayType(elem))]
    out_schema = T.StructType(fields)
    cols = docs.columns

    # closure (pickle-by-value): executors don't have this repo on their
    # sys.path when the driver runs from another cwd
    def encode_batches(batch_iter):
        import hashlib

        import numpy as np

        model = None
        try:  # production path, absent in this container
            from sentence_transformers import SentenceTransformer  # type: ignore

            model = SentenceTransformer("all-MiniLM-L6-v2")
        except Exception:
            model = None

        scale = float(1 << 59)
        suffixes = [b":" + str(d).encode() for d in range(dim)]

        def pseudo_encode(texts):
            # dim d of text t = md5(t || ':' || d) 60-bit prefix scaled
            # to [-1, 1) — replayable in DuckDB (md5_dim_sql above).
            # The text is hashed ONCE per row into a reusable md5 state;
            # each dim copies that state and appends its tiny suffix
            # (md5.copy() beats rehashing the text per dim), and the
            # 60-bit prefix comes from raw digest bytes, skipping the
            # hexdigest/str-parse round-trip.
            out = np.empty((len(texts), dim), dtype=np.float64)
            for i, t in enumerate(texts):
                base_state = hashlib.md5((t or "").encode("utf-8"))
                row = out[i]
                for d in range(dim):
                    h = base_state.copy()
                    h.update(suffixes[d])
                    row[d] = (
                        int.from_bytes(h.digest()[:8], "big") >> 4
                    ) / scale - 1.0
            norms = np.linalg.norm(out, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            return out / norms

        np_dtype = "float64" if dtype == "float64" else "float32"
        for pdf in batch_iter:
            texts = pdf["text"].fillna("").tolist()
            if model is not None:
                vecs = model.encode(texts, normalize_embeddings=True)
            else:
                vecs = pseudo_encode(texts)
            pdf = pdf[cols].copy()
            pdf["embedding"] = [v.astype(np_dtype) for v in vecs]
            yield pdf

    return docs.mapInPandas(encode_batches, out_schema)


def embedding_profile(encoded: DataFrame) -> DataFrame:
    """Per-`lang` embedding sanity profile: count, dim, mean L2 norm
    (≈1.0 for a normalized encoder) — the aggregate the loader logs
    (embedding_consumer.py:296-301), distributed."""
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    return encoded.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min(F.size("embedding")).cast("long").alias("dim"),
        F.round(F.avg(norm), 4).alias("mean_l2_norm"),
        # encoder-sensitive witness: any drift in the encoder formula
        # (not just the normalization) shows up here
        F.round(F.avg(F.element_at("embedding", 1)), 4).alias("mean_dim0"),
    )
