"""PII redaction semantics on crafted strings (the corpus has none)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.operators.redaction import (
    PII_PATTERNS,
    pii_counts,
    redact_text,
)


def _one(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    counts = pii_counts(F.col("text"))
    return df.select(
        redact_text(F.col("text")).alias("redacted"),
        *[counts[cat].alias(f"n_{cat}") for cat, _p, _r in PII_PATTERNS],
    ).collect()[0]


def test_each_category_redacts(spark):
    r = _one(
        spark,
        "mail a.b+c@ex-1.org or visit https://x.io/p?q=1 from 192.168.0.1 call 212-555-0199",
    )
    assert r["redacted"] == "mail <EMAIL> or visit <URL> from <IP> call <PHONE>"
    assert (r["n_email"], r["n_url"], r["n_ip"], r["n_phone"]) == (1, 1, 1, 1)


def test_pii_inside_url_counts_once_as_url(spark):
    """Order pin: the email-like and IP-like spans inside a URL must be
    consumed by the URL pass, not double-counted."""
    r = _one(spark, "see https://u:p@ex.com/10.0.0.1/x ok")
    assert r["redacted"] == "see <URL> ok"
    assert (r["n_url"], r["n_email"], r["n_ip"], r["n_phone"]) == (1, 0, 0, 0)


def test_ip_before_phone_ordering(spark):
    """A 4-octet dotted run is IP; a 3-3-4 digit run is phone — the IP
    pass runs first so dotted quads never leave digit runs behind for
    the phone pattern to half-match."""
    r = _one(spark, "srv 10.200.30.400 txt 123.456.7890 end")
    assert r["n_ip"] == 1 and r["n_phone"] == 1
    assert r["redacted"] == "srv <IP> txt <PHONE> end"


def test_clean_text_untouched(spark):
    r = _one(spark, "no pii here just words and 42 numbers")
    assert r["redacted"] == "no pii here just words and 42 numbers"
    assert (r["n_email"], r["n_url"], r["n_ip"], r["n_phone"]) == (0, 0, 0, 0)
