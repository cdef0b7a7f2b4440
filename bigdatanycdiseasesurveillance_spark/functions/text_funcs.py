"""Text column expressions: tokenization, stopwords, Jaccard,
fingerprints — all native higher-order functions (SURVEY §2.8 families).

The reference lowercases + keyword-scans text record-by-record in Python
(reference: src/spark_consumers/relevance_consumer.py:215-240). These
helpers keep the same semantics as single Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword list used by quality scoring / language-id
# heuristics; fixed order so derived arrays are deterministic.
STOPWORDS = (
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "on",
    "for", "with", "at", "by", "from", "as", "it", "this", "that",
)


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text (empty tokens removed, so
    leading/trailing/double spaces don't shift counts)."""
    return F.filter(F.split(F.lower(text), " "), lambda t: t != "")


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_count(text: Column) -> Column:
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def word_jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """Jaccard similarity of two distinct-token arrays.

    |A ∩ B| / (|A| + |B| - |A ∩ B|) — avoids array_union so only one
    set operation runs per pair (the hot path of the dedup self-join).
    try_divide: two EMPTY token sets have an undefined Jaccard -> NULL
    (ANSI mode would otherwise abort the whole job on one blank doc).
    """
    inter = F.size(F.array_intersect(a_tokens, b_tokens)).cast("double")
    return F.try_divide(
        inter,
        F.size(a_tokens).cast("double") + F.size(b_tokens).cast("double") - inter,
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text
    (normalize = lowercase, strip non-alphanumerics, collapse spaces).
    Reference analog: SHA-256 exact-dup hash
    (reference: src/spark_consumers/deduplication_consumer.py:138-148).
    """
    norm = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9 ]", " ")), " +", " "
    )
    return F.md5(norm)
