"""Batch sources (SURVEY §2.1 S2).

The reference's file stage-transfer globs a directory, sniffs each file
for "top-level JSON array vs JSONL", and parses record-by-record on the
driver (reference: src/spark_consumers/deduplication_consumer.py:362-408
and the same 45-line loop in location/embedding consumers). Engine form:
one whole-text scan + a single projection that branches per file — every
file parses on an executor, and the output carries the same
`source_path` lineage column the reference's Kafka envelope adds
(reference: src/kafka_publisher.py:219-223).

Scale note: whole-text reads make one task per file, which matches the
scraper output shape (many small files). A 100 TB corpus would be
JSONL/Parquet-partitioned and read schema-first with
`spark.read.schema(s).json`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.sql_text import ident, slit


def read_json_any(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S2: directory source accepting BOTH array-JSON files and JSONL
    files in one pass. Each file is one row of whole text; a top-level
    '[' selects array parsing, anything else is split into lines and
    parsed per line. Malformed lines/elements yield null structs and are
    dropped (the reference skips them with try/except per record).

    The parse is one SQL statement over the whole-text scan (see
    functions.sql_text for why text, not Column calls)."""
    raw = spark.read.text(path, wholetext=True)
    fields = ", ".join(f"{ident(f.name)}: {f.dataType.simpleString()}" for f in schema)
    record = f"struct<{fields}>"
    # PERMISSIVE from_json yields an all-null struct (not NULL) for a
    # malformed line, so parse with a corrupt-record column and filter
    # on it instead of IS NOT NULL; named_struct then drops that column
    # again (a struct's dropFields has no SQL form)
    with_corrupt = f"struct<{fields}, _corrupt: string>"
    rebuilt = ", ".join(f"{slit(f.name)}, rec.{ident(f.name)}" for f in schema)
    return spark.sql(
        f"""
        SELECT rec.*, source_path FROM (
            SELECT explode(
                       CASE WHEN startswith(ltrim(value), '[')
                            THEN from_json(ltrim(value), {slit(f"array<{record}>")})
                            ELSE transform(
                                filter(
                                    transform(
                                        filter(split(value, '\\n'),
                                               ln -> startswith(ltrim(ln), {slit("{")})),
                                        ln -> from_json(ln, {slit(with_corrupt)},
                                                        map('columnNameOfCorruptRecord', '_corrupt'))),
                                    rec -> rec._corrupt IS NULL),
                                rec -> named_struct({rebuilt}))
                       END) AS rec,
                   input_file_name() AS source_path
            FROM {{raw}}
        )
        WHERE rec IS NOT NULL""",
        raw=raw,
    )
