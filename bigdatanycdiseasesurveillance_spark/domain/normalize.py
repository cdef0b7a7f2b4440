"""Unified event normalization (SURVEY §1.2 / §2.8).

The reference extracts id/timestamp/source per record with Python
fallback chains (reference: src/database/psql_db_client.py:243-306:
created_at -> created_utc -> timestamp -> scraped_at -> processed_at ->
now; id -> md5 of content; source from source_file name). Engine form:
one `coalesce` chain per field over typed candidate columns — a single
projection, no row-at-a-time logic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def coalesce_timestamp(df: DataFrame, candidates: list[str]) -> Column:
    """First non-null timestamp across candidate columns (missing
    columns are skipped) — psql_db_client.py:290-306's chain."""
    cols = [
        F.col(c).cast("timestamp") for c in candidates if c in df.columns
    ]
    return F.coalesce(*cols) if cols else F.lit(None).cast("timestamp")


def synthesize_id(df: DataFrame, id_candidates: list[str], content_cols: list[str]) -> Column:
    """First non-null id, else md5 of the concatenated content — the
    reference's synthetic-id fallback (psql_db_client.py:285-288)."""
    cands = [F.col(c).cast("string") for c in id_candidates if c in df.columns]
    content = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in content_cols]))
    return F.coalesce(*cands, content) if cands else content


def classify_source(source_file: Column) -> Column:
    """Source label from the originating file name
    (psql_db_client.py:245-273)."""
    f = F.lower(source_file)
    return (
        F.when(f.contains("reddit"), "reddit")
        .when(f.contains("bluesky"), "bluesky")
        .when(f.contains("rss"), "rss")
        .when(f.contains("311"), "nyc_311")
        .when(f.contains("press"), "nyc_press")
        .when(f.contains("covid") | f.contains("respiratory"), "nyc_doh")
        .otherwise("unknown")
    )


def normalize_events(
    df: DataFrame,
    ts_candidates: list[str],
    id_candidates: list[str],
    content_cols: list[str],
    text_col: str | None = None,
    source_file_col: str | None = None,
) -> DataFrame:
    """Produce the unified (id, timestamp, source, text_content) core of
    the silver schema from any bronze source shape."""
    cols = {
        "timestamp": coalesce_timestamp(df, ts_candidates),
        "id": synthesize_id(df, id_candidates, content_cols),
    }
    if source_file_col and source_file_col in df.columns:
        cols["source"] = classify_source(F.col(source_file_col))
    if text_col and text_col in df.columns:
        cols["text_content"] = F.col(text_col)
    # one projection, analysed once (a withColumn chain re-analyses the
    # growing plan per column)
    return df.withColumns(cols)
