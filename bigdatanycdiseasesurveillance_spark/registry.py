"""Query registry — the single source of truth for the driver contract.

Every operator the engine claims (SURVEY.md §2) registers here as a named
spec: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus the
equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables. ``__spark_entry__.py`` exposes the
registry verbatim.

The registry order is the registration order: ``queries/__init__.py``
imports the query modules in a fixed order, and each module registers
its specs top to bottom. Building the registry reads no file.

Parity rules every spec follows (so order-insensitive value-hash
comparison succeeds):

- every computed column is aliased identically on both sides;
- every floating-point output is ``round(x, N)`` on both sides (sums and
  averages are order-dependent in the last bits across engines);
- day-grain times are cast to DATE on both sides (Spark date_trunc
  returns timestamp, DuckDB returns timestamp — DATE is unambiguous);
- arrays are never emitted raw (element order may differ) — emit
  deterministic joins (array_join of order-preserving constructs) or
  counts instead;
- top-k queries carry a full tie-breaking ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkFn
    oracle: str  # ANSI SQL for DuckDB
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str, tags: tuple[str, ...] = (), bench: bool = False
) -> Callable[[SparkFn], SparkFn]:
    def deco(fn: SparkFn) -> SparkFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tags, bench)
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """Every registered spec, in registration order."""
    # Import the query modules for their registration side effects.
    from . import queries  # noqa: F401

    return dict(_REGISTRY)
