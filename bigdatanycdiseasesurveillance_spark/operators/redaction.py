"""PII redaction — the scrub stage of a training-data curation
pipeline (emails, phones, URLs, IPv4s -> typed placeholder tokens).

Pure column expressions: four regexp_replace passes inside whole-stage
codegen, no Python in the path, so the scrub runs at scan throughput
and composes with pushdown/pruning at 100 TB. Patterns avoid
lookarounds so they mean the same thing in Java regex (Spark) and RE2
(DuckDB), which is what lets the correctness gate replay the scrub.

Redaction order matters and is fixed: URL first (an email or IP inside
a URL path must count as URL, not leak as a second category), then
email, then IPv4 BEFORE phone (both are digit runs; an IPv4 must not be
half-eaten by the phone pattern).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (category, pattern, replacement) in redaction order
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^ ]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category match counts, evaluated on the ORIGINAL text but
    with earlier categories masked first (so a URL's path digits never
    double-count as phone/IP) — mirrors the redaction order exactly."""
    out: dict[str, Column] = {}
    cur = text
    for cat, pat, repl in PII_PATTERNS:
        out[cat] = F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).cast("long")
        cur = F.regexp_replace(cur, pat, repl)
    return out


def redact_text(text: Column) -> Column:
    """The scrubbed text: every PII span replaced by its typed token."""
    cur = text
    for _cat, pat, repl in PII_PATTERNS:
        cur = F.regexp_replace(cur, pat, repl)
    return cur


def pii_sql_exprs(text_expr: str) -> tuple[str, dict[str, str]]:
    """DuckDB twins of redact_text / pii_counts over `text_expr` —
    generated from the SAME pattern table so they cannot drift."""
    cur = text_expr
    counts: dict[str, str] = {}
    for cat, pat, repl in PII_PATTERNS:
        counts[cat] = f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT)"
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    return cur, counts
