"""Vector math over ArrayType(FloatType) columns — pure column
expressions (higher-order functions), no UDFs, so similarity scans stay
inside whole-stage codegen.

The reference stores 384-dim MiniLM embeddings in ChromaDB and lets it
compute cosine similarity (reference:
src/spark_consumers/embedding_consumer.py:215-243;
src/database/chromadb_client.py:194-306). Here embeddings are a native
ArrayType column and cosine is `zip_with` + `aggregate` — vectorizable,
broadcastable, and pushdown-friendly.

Elements are cast to double before arithmetic: float32 accumulation
drifts ~1e-7 which is visible after rounding; double matches the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays (cast first via as_double)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization of a float array:
    scale = max|v| / 127, q_i = floor(v_i/scale + 0.5) in [-127, 127].

    floor(x + 0.5) instead of round(): both engines compute v/scale in
    identical IEEE doubles, and floor of the same double is the same
    integer everywhere — round() half-handling differs across engines.
    Returns struct(scale double, q array<int>). A 384-dim float32
    embedding drops 4x in size; at 100 TB of vectors that is the
    difference between an index that fits executor memory and one that
    spills.
    """
    v = as_double(vec)

    def _q(u: Column) -> Column:
        scale = F.greatest(
            F.array_max(F.transform(u, F.abs)) / F.lit(127.0), F.lit(1e-30)
        )
        return F.struct(
            scale.alias("scale"),
            F.transform(u, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")).alias(
                "q"
            ),
        )

    return F.element_at(F.transform(F.array(v), _q), 1)


def dequantize(qstruct: Column) -> Column:
    """Inverse of quantize_int8: scale * q as a double array."""
    s = qstruct["scale"]
    return F.transform(qstruct["q"], lambda x: x.cast("double") * s)


def unit(vec: Column) -> Column:
    """Unit-normalized double vector. Pairwise plans should project this
    ONCE per side before the join — cosine then degenerates to a single
    dot() per pair instead of dot + two norms (3x less array work on the
    O(pairs) hot path, and the cast/norm runs O(n) not O(pairs)).

    Zero-norm contract: a zero vector normalizes to itself (the divisor
    is clamped to 1 when the norm is exactly 0), so any cosine against
    it is 0.0 — identical to the GEMM kernel's ``norms[norms == 0] = 1``
    clamp (operators/dedup.py). Without the clamp the expression path
    emitted NaN, which Spark orders ABOVE all doubles, so a NaN pair
    silently passed every >= threshold filter the GEMM path dropped."""
    v = as_double(vec)

    def _scale(u: Column) -> Column:
        n = F.sqrt(F.aggregate(F.transform(u, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
        n = F.when(n == F.lit(0.0), F.lit(1.0)).otherwise(n)
        return F.transform(u, lambda x: x / n)

    # bind v via a one-element transform so the cast doesn't re-run per
    # element of the norm + scale passes
    return F.element_at(F.transform(F.array(v), _scale), 1)
