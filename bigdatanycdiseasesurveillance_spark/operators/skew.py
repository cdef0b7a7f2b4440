"""Skew mitigation (SURVEY §4 / 100 TB notes).

AQE's skew-join splitting handles sort-merge skew at runtime, but two
patterns still need explicit salting at scale:

- joining a huge fact against a small-but-not-broadcastable table when
  a handful of keys dominate the fact side;
- per-key state that must stay bounded (e.g. collect_list on a hot key).

`salted_join` replicates the right side SALT ways and scatters the left
side's hot keys uniformly across the replicas, so one hot key occupies
SALT shuffle partitions instead of one. Deterministic: the salt comes
from a hash of stable columns, not rand().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ways each join key is split
SALT_WAYS = 8


def salted_join(
    left: DataFrame, right: DataFrame, on: str, left_salt_from: list[str] | None = None
) -> DataFrame:
    """Inner equi-join `left.on == right.on` with SALT_WAYS-way key
    splitting.

    The left side gets a deterministic salt in [0, salt) hashed from
    `left_salt_from` (defaults to all left columns — any stable unique-ish
    column set works); the right side is exploded SALT ways. Result
    equals the plain join, but each (key, salt) shuffle bucket carries
    ~1/salt of a hot key's rows.
    """
    salt = SALT_WAYS
    salt_cols = left_salt_from or left.columns
    lhs = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt)).cast("int")
    )
    rhs = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = lhs.join(rhs, [on, "__salt"], "inner")
    return out.drop("__salt")
