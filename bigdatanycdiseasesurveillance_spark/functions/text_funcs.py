"""Text column expressions: tokenization, stopwords, Jaccard,
fingerprints — all native higher-order functions (SURVEY §2.8 families).

The reference lowercases + keyword-scans text record-by-record in Python
(reference: src/spark_consumers/relevance_consumer.py:215-240). These
helpers keep the same semantics as single Catalyst expressions.
"""

from __future__ import annotations

from .sql_text import str_array

# Small English stopword list used by quality scoring / language-id
# heuristics; fixed order so derived arrays are deterministic.
STOPWORDS = (
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "on",
    "for", "with", "at", "by", "from", "as", "it", "this", "that",
)

# Every helper below returns Spark SQL TEXT over the SQL text of its
# argument (a column name, or any expression): callers splice it into a
# statement, or wrap it as F.expr(helper("text")) for one Column. Text,
# not Column objects: see functions.sql_text.


def tokens(text: str) -> str:
    """Whitespace tokens of lowercased text (empty tokens removed, so
    leading/trailing/double spaces don't shift counts)."""
    return f"filter(split(lower({text}), ' '), t -> t != '')"


def distinct_tokens(text: str) -> str:
    return f"array_distinct({tokens(text)})"


def token_count(text: str) -> str:
    return f"size({tokens(text)})"


def stopword_count(text: str) -> str:
    return f"size(filter({tokens(text)}, t -> array_contains({str_array(STOPWORDS)}, t)))"


def word_jaccard(a_tokens: str, b_tokens: str) -> str:
    """Jaccard similarity of two distinct-token arrays.

    |A ∩ B| / (|A| + |B| - |A ∩ B|) — avoids array_union so only one
    set operation runs per pair (the hot path of the dedup self-join).
    try_divide: two EMPTY token sets have an undefined Jaccard -> NULL
    (ANSI mode would otherwise abort the whole job on one blank doc).
    """
    inter = f"CAST(size(array_intersect({a_tokens}, {b_tokens})) AS DOUBLE)"
    return (
        f"try_divide({inter}, CAST(size({a_tokens}) AS DOUBLE)"
        f" + CAST(size({b_tokens}) AS DOUBLE) - {inter})"
    )


def fingerprint(text: str) -> str:
    """Deterministic document fingerprint: md5 of normalized text
    (normalize = lowercase, strip non-alphanumerics, collapse spaces).
    Reference analog: SHA-256 exact-dup hash
    (reference: src/spark_consumers/deduplication_consumer.py:138-148).
    """
    stripped = f"regexp_replace(lower({text}), '[^a-z0-9 ]', ' ')"
    return f"md5(regexp_replace(trim({stripped}), ' +', ' '))"
