"""Unified event normalization (SURVEY §1.2 / §2.8).

The reference extracts id/timestamp/source per record with Python
fallback chains (reference: src/database/psql_db_client.py:243-306:
created_at -> created_utc -> timestamp -> scraped_at -> processed_at ->
now; id -> md5 of content; source from source_file name). Engine form:
one `coalesce` chain per field over typed candidate columns — a single
projection, no row-at-a-time logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.sql_text import ident, slit, with_columns


def coalesce_timestamp(columns: list[str], candidates: list[str]) -> str:
    """First non-null timestamp across candidate columns (missing
    columns are skipped) — psql_db_client.py:290-306's chain."""
    cols = [f"CAST({ident(c)} AS TIMESTAMP)" for c in candidates if c in columns]
    return f"coalesce({', '.join(cols)})" if cols else "CAST(NULL AS TIMESTAMP)"


def synthesize_id(columns: list[str], id_candidates: list[str]) -> str:
    """First non-null id, else md5 of the post text — the reference's
    synthetic-id fallback (psql_db_client.py:285-288)."""
    cands = [f"CAST({ident(c)} AS STRING)" for c in id_candidates if c in columns]
    content = f"md5(concat_ws('|', CAST({ident('text')} AS STRING)))"
    return f"coalesce({', '.join(cands + [content])})" if cands else content


# (label, file-name substrings), first match wins
_SOURCE_LABELS = (
    ("reddit", ("reddit",)),
    ("bluesky", ("bluesky",)),
    ("rss", ("rss",)),
    ("nyc_311", ("311",)),
    ("nyc_press", ("press",)),
    ("nyc_doh", ("covid", "respiratory")),
)


def classify_source(source_file: str) -> str:
    """Source label from the originating file name
    (psql_db_client.py:245-273)."""
    f = f"lower({source_file})"
    whens = " ".join(
        "WHEN " + " OR ".join(f"contains({f}, {slit(k)})" for k in keys)
        + f" THEN {slit(label)}"
        for label, keys in _SOURCE_LABELS
    )
    return f"CASE {whens} ELSE 'unknown' END"


def normalize_events(
    df: DataFrame, ts_candidates: list[str], id_candidates: list[str]
) -> DataFrame:
    """Produce the unified (id, timestamp, source, text_content) core of
    the silver schema from any bronze source shape, as one projection
    (one SQL statement, analysed once). `source` is classified from a
    `source_path` column and `text_content` copies `text`, each where
    the bronze shape has that column."""
    columns = df.columns
    cols = {
        "timestamp": coalesce_timestamp(columns, ts_candidates),
        "id": synthesize_id(columns, id_candidates),
    }
    if "source_path" in columns:
        cols["source"] = classify_source(ident("source_path"))
    if "text" in columns:
        cols["text_content"] = ident("text")
    return df.sparkSession.sql(
        f"SELECT {with_columns(columns, cols)} FROM {{df}}", df=df
    )
