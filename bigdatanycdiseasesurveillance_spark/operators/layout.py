"""Data-layout operators: Z-order (Morton) clustering keys.

Why this exists at 100 TB: parquet min/max pruning only helps on the
column the file is sorted by. Sorting on a Z-value interleaving of two
dimensions bounds BOTH dimensions inside every file/range — a query
filtering on either column (or a box on both) prunes most files. This
is the layout trick behind Delta/Iceberg Z-ORDER OPTIMIZE, expressed
as a plain column so a range-partitioned sort on it works on any sink.

The Z-value itself is exact integer math: one `aggregate` fold over a
precomputed power-of-two array literal (shift amounts cannot be
columns in an expression, but the powers can be array elements), so it
stays inside whole-stage codegen and is bit-for-bit replayable in any
SQL engine with a list fold.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zvalue(x: Column, y: Column, bits: int = 10) -> Column:
    """Morton Z-interleave of two non-negative ints of `bits` bits each
    (x in the odd/high positions). Folds most-significant-bit first:
    acc = acc*4 + 2*bit_x + bit_y.
    """
    powers = F.array(*[F.lit(1 << i) for i in range(bits - 1, -1, -1)])
    xl, yl = x.cast("long"), y.cast("long")

    def bit(v: Column, p: Column) -> Column:
        return F.when(v.bitwiseAND(p) > 0, F.lit(1)).otherwise(F.lit(0))

    return F.aggregate(
        powers,
        F.lit(0).cast("long"),
        lambda acc, p: acc * 4 + bit(xl, p) * 2 + bit(yl, p),
    )


def zvalue_sql(x: str, y: str, bits: int = 10) -> str:
    """DuckDB replay of zvalue (list_reduce over the same powers)."""
    powers = ", ".join(str(1 << i) for i in range(bits - 1, -1, -1))
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), [{powers}]), "
        f"(acc, p) -> acc * 4"
        f" + 2 * (CASE WHEN ({x} & p) > 0 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN ({y} & p) > 0 THEN 1 ELSE 0 END))"
    )
