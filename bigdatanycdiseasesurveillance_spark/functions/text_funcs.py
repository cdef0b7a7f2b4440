"""Text column expressions: tokenization, stopwords, Jaccard,
fingerprints — all native higher-order functions (SURVEY §2.8 families).

The reference lowercases + keyword-scans text record-by-record in Python
(reference: src/spark_consumers/relevance_consumer.py:215-240). These
helpers keep the same semantics as single Catalyst expressions.

This module is the one definition of each text device a query needs;
Spark-side code calls these helpers instead of rebuilding them:

- ``words``: the whitespace words of text as written (empty words
  dropped), and ``word_count``;
- ``tokens``: the words of lowercased text, and on top of them
  ``distinct_tokens``, ``token_count`` and ``stopword_count``;
- ``sentences``: the regex sentence split after ``SENT_INJECT``'s
  period injection;
- ``normalized``: lowercase, non-alphanumerics to spaces, trimmed,
  runs of spaces collapsed; ``fingerprint`` is its md5;
- ``word_jaccard`` over two token arrays.

The DuckDB oracles state the same rules in their own dialect, and
``operators/text_analysis.langid_trigram_fast`` keeps a Python copy of
``normalized`` for its pandas UDF; ``tests/test_properties.py`` checks
each helper against its closed form in Python.
"""

from __future__ import annotations

from .sql_text import slit, str_array

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


# The synthetic corpus is punctuation-free, so sentence splitting first
# injects a deterministic period after every 10th word — the same
# both-engines text-injection device the PII redaction oracle uses —
# and then runs the REAL regex splitter. Both patterns are valid and
# semantically identical in Java regex (Spark) and RE2 (DuckDB):
# non-overlapping leftmost matches, scan resumes after each replacement.
SENT_INJECT = r"((?:\S+ ){9}\S+) "
SENT_SPLIT = r"\.\s+"


def words(text: str) -> str:
    """Words of text as written, split on single spaces with the empty
    words removed (so leading/trailing/double spaces don't shift
    counts)."""
    return f"filter(split({text}, ' '), t -> t != '')"


def tokens(text: str) -> str:
    """Words of lowercased text."""
    return words(f"lower({text})")


def word_count(text: str) -> str:
    return f"size({words(text)})"


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


def sentences(text: str) -> str:
    """Sentences of text: a period injected after every 10th word, then
    split on a period and its following whitespace."""
    return (
        f"split(regexp_replace({text}, {slit(SENT_INJECT)}, '$1. '),"
        f" {slit(SENT_SPLIT)})"
    )


def normalized(text: str) -> str:
    """Lowercased text with every non-alphanumeric turned into a space,
    trimmed, and runs of spaces collapsed to one."""
    stripped = f"regexp_replace(lower({text}), '[^a-z0-9 ]', ' ')"
    return f"regexp_replace(trim({stripped}), ' +', ' ')"


def fingerprint(text: str) -> str:
    """Deterministic document fingerprint: md5 of normalized text.
    Reference analog: SHA-256 exact-dup hash
    (reference: src/spark_consumers/deduplication_consumer.py:138-148).
    """
    return f"md5({normalized(text)})"
