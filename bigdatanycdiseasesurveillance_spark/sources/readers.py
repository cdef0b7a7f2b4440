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
JSONL/Parquet-partitioned and read via `spark.read.schema(s).json` —
`read_jsonl` below is that path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_json_any(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S2: directory source accepting BOTH array-JSON files and JSONL
    files in one pass. Each file is one row of whole text; a top-level
    '[' selects array parsing, anything else is split into lines and
    parsed per line. Malformed lines/elements yield null structs and are
    dropped (the reference skips them with try/except per record)."""
    raw = spark.read.text(path, wholetext=True).select(
        F.col("value"),
        F.input_file_name().alias("source_path"),
    )
    trimmed = F.ltrim(F.col("value"))
    arr_schema = T.ArrayType(schema)
    as_array = F.from_json(trimmed, arr_schema)
    # PERMISSIVE from_json yields an all-null struct (not NULL) for a
    # malformed line, so parse with a corrupt-record column and filter
    # on it instead of isNotNull
    corrupt = T.StructType(schema.fields + [T.StructField("_corrupt", T.StringType())])
    as_lines = F.transform(
        F.filter(
            F.split(F.col("value"), "\n"),
            lambda ln: F.startswith(F.ltrim(ln), F.lit("{")),
        ),
        lambda ln: F.from_json(ln, corrupt, {"columnNameOfCorruptRecord": "_corrupt"}),
    )
    as_lines = F.transform(
        F.filter(as_lines, lambda rec: rec["_corrupt"].isNull()),
        lambda rec: rec.dropFields("_corrupt"),
    )
    records = F.when(F.startswith(trimmed, F.lit("[")), as_array).otherwise(as_lines)
    return (
        raw.select(F.explode(records).alias("rec"), "source_path")
        .filter(F.col("rec").isNotNull())
        .select("rec.*", "source_path")
    )


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S2 (scale path): schema-first JSONL read — splittable, pushdown-
    friendly, the format a 100 TB bronze layer would actually use."""
    return spark.read.schema(schema).json(path)
