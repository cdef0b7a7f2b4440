"""Geohash encoding as generated closed-form SQL (no loops, no UDF).

Standard geohash (Niemeyer): lat/lon bisection bits interleaved
lon-first, base32-coded 5 bits per character. For a fixed precision the
encode is pure integer arithmetic:

    cx = floor((lon + 180) / 360 * 2^lon_bits)   (clamped)
    cy = floor((lat + 90) / 180 * 2^lat_bits)

then bit-interleave cx/cy (lon takes the even stream positions) and
emit base32 digits. The three stage expressions are GENERATED from
these rules and used verbatim by both the Spark query (withColumn
chain) and the DuckDB oracle (CTE chain), so parity holds by
construction and everything stays inside whole-stage codegen.

Geohash prefixes are the classic spatial blocking key at scale: equal
prefixes = nearby cells, so a prefix equi-join replaces a quadratic
distance join (the role the eps-grid plays in grid_dbscan, in a
public, index-friendly string format).
"""

from __future__ import annotations

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
# geohash characters (6 -> cells of about 1.2 km x 0.6 km)
GEOHASH_PRECISION = 6


def _bit(var: str, j: int) -> str:
    """(var >> j) & 1 in the portable Spark/DuckDB SQL subset."""
    return f"(CAST(floor({var} / {1 << j}.0) AS BIGINT) % 2)"


def geohash_stages() -> tuple[str, str, str, str]:
    """Return (cx_sql, cy_sql, value_sql, char_sql) of the
    GEOHASH_PRECISION-character geohash of columns `lat` and `lon`.

    value_sql references columns named gh_cx / gh_cy; char_sql
    references gh_v. Callers chain them as projections (Spark
    withColumn, SQL CTEs) so each piece is computed once.
    """
    precision = GEOHASH_PRECISION
    total_bits = precision * 5
    lon_bits = (total_bits + 1) // 2  # lon first -> gets the extra bit
    lat_bits = total_bits // 2
    cx = (
        f"LEAST(CAST(floor(((lon) + 180.0) / 360.0 * {1 << lon_bits}"
        f") AS BIGINT), {(1 << lon_bits) - 1})"
    )
    cy = (
        f"LEAST(CAST(floor(((lat) + 90.0) / 180.0 * {1 << lat_bits}"
        f") AS BIGINT), {(1 << lat_bits) - 1})"
    )
    terms = []
    for k in range(total_bits):  # stream position k, 0 = MSB
        if k % 2 == 0:
            src = _bit("gh_cx", lon_bits - 1 - k // 2)
        else:
            src = _bit("gh_cy", lat_bits - 1 - k // 2)
        shift = total_bits - 1 - k
        terms.append(f"{src} * {1 << shift}" if shift else src)
    value = " + ".join(terms)
    chars = []
    for c in range(precision):
        shift = total_bits - 5 * (c + 1)
        digit = f"(CAST(floor(gh_v / {1 << shift}.0) AS BIGINT) % 32)"
        chars.append(f"substr('{_BASE32}', CAST({digit} AS INT) + 1, 1)")
    return cx, cy, value, " || ".join(chars)


def geohash_py(lat: float, lon: float) -> str:
    """Pure-Python twin of the generated SQL (tests pin both against
    the public geohash definition)."""
    precision = GEOHASH_PRECISION
    total_bits = precision * 5
    lon_bits = (total_bits + 1) // 2
    lat_bits = total_bits // 2
    cx = min(int((lon + 180.0) / 360.0 * (1 << lon_bits)), (1 << lon_bits) - 1)
    cy = min(int((lat + 90.0) / 180.0 * (1 << lat_bits)), (1 << lat_bits) - 1)
    v = 0
    for k in range(total_bits):
        if k % 2 == 0:
            bit = (cx >> (lon_bits - 1 - k // 2)) & 1
        else:
            bit = (cy >> (lat_bits - 1 - k // 2)) & 1
        v = (v << 1) | bit
    out = []
    for c in range(precision):
        shift = total_bits - 5 * (c + 1)
        out.append(_BASE32[(v >> shift) & 31])
    return "".join(out)
