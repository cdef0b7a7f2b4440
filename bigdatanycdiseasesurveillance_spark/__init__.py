"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference system reetahan/BigDataNYCDiseaseSurveillance
(a NYC disease-outbreak surveillance pipeline), re-expressed Spark-first.

Architecture (see SURVEY.md for the operator blueprint):

- ``session``    — tuned SparkSession factory (AQE, Arrow, UTC, broadcast).
- ``tables``     — parquet table loaders for the synthetic star schema.
- ``registry``   — query registry: every operator is a named (spark_fn,
                   oracle_sql) pair; the driver contract in
                   ``__spark_entry__.py`` is generated from it.
- ``operators/`` — the operator library: aggregations, the as-of
                   join, relevance extraction, 3-tier
                   dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
                   embedding-cosine), similarity search, text analysis,
                   anomaly z-scores, forecasting, clustering, multimodal.
- ``functions/`` — column-expression helpers (vector math, hashing,
                   tokenization) built from pyspark.sql.functions only.
- ``sources/``   — the JSON reader with explicit schemas, and the
                   parquet/gold-table sinks and scratch dirs.
- ``streaming/`` — Structured Streaming plumbing the registered drains
                   share (parquet file-source streams standing in for
                   Kafka topics, and the availableNow drain); the
                   drains themselves are query functions in
                   ``queries/``.
- ``plans/``     — physical-plan invariants and the registry-wide plan
                   sweep with its pinned shuffle budget.

Everything is DataFrame/Spark-SQL first: Catalyst handles pushdown,
pruning, join strategy, and AQE; Python never loops over rows on the
driver. Pandas UDFs (Arrow-batched) appear only where built-ins cannot
express the semantics (model-style scoring, local DBSCAN, decode stubs).
"""

__version__ = "0.1.0"
