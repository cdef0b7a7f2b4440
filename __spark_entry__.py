"""Driver contract for the spark-graft builder (PySpark target).

Everything is generated from the engine's query registry
(``bigdatanycdiseasesurveillance_spark.registry``): each registered spec
carries the Spark callable and, when SQL-expressible, the DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from bigdatanycdiseasesurveillance_spark.registry import all_specs  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the anomaly-detection
    pipeline (daily rollup -> expanding z-score -> risk bands) — the
    reference system's headline analysis, fully native."""
    spec = all_specs()["win_anomaly_zscore"]
    return spec.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query."""
    return {name: spec.oracle for name, spec in all_specs().items()}
