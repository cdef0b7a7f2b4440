"""Location enrichment as broadcast dimension joins (SURVEY §2.3
J2-J7).

The reference resolves location per record with in-process dict scans
(reference: src/spark_consumers/nyc_neighborhoods.py:176-241) under a
fallback priority subreddit > coordinates > zip > text-alias
(reference: src/spark_consumers/location_consumer.py:329-372). Engine
form: each lookup is a broadcast left join producing candidate columns;
the priority is one `coalesce` per output field. The fact side never
shuffles — every dim is KB-sized.

Dimension data here is a compact representative NYC subset (own
construction, not a copy of the reference's tables); swapping in a full
gazetteer is a data change, not a code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.sql_text import dlit, ident, slit
from ..tables import values_dim

# (borough, zip_prefix) — J2's zip-prefix lookup
BOROUGH_ZIP_PREFIXES = [
    ("Manhattan", "100"),
    ("Manhattan", "101"),
    ("Manhattan", "102"),
    ("Bronx", "104"),
    ("Staten Island", "103"),
    ("Queens", "110"),
    ("Queens", "111"),
    ("Queens", "113"),
    ("Queens", "114"),
    ("Queens", "116"),
    ("Brooklyn", "112"),
]

# (neighborhood, borough, lat_min, lat_max, lon_min, lon_max, zips)
NEIGHBORHOODS = [
    ("Astoria", "Queens", 40.756, 40.786, -73.945, -73.905, ["11102", "11103", "11105", "11106"]),
    ("Williamsburg", "Brooklyn", 40.697, 40.725, -73.972, -73.935, ["11211", "11249"]),
    ("Bushwick", "Brooklyn", 40.683, 40.709, -73.945, -73.895, ["11206", "11207", "11221", "11237"]),
    ("Harlem", "Manhattan", 40.797, 40.835, -73.965, -73.920, ["10026", "10027", "10030", "10037", "10039"]),
    ("East Village", "Manhattan", 40.721, 40.734, -73.995, -73.972, ["10003", "10009"]),
    ("Riverdale", "Bronx", 40.880, 40.915, -73.930, -73.890, ["10463", "10471"]),
    ("Flushing", "Queens", 40.745, 40.775, -73.845, -73.800, ["11354", "11355", "11358"]),
    ("St. George", "Staten Island", 40.635, 40.650, -74.090, -74.065, ["10301"]),
]

# (alias, canonical_neighborhood) — J6's alias normalization
ALIASES = [
    ("astoria queens", "Astoria"),
    ("wburg", "Williamsburg"),
    ("the burg", "Williamsburg"),
    ("east vil", "East Village"),
    ("ev", "East Village"),
    ("harlem ny", "Harlem"),
]

# (subreddit, neighborhood) — J5's subreddit map (borough derives via J7)
SUBREDDITS = [
    ("astoria", "Astoria"),
    ("williamsburg", "Williamsburg"),
    ("bushwick", "Bushwick"),
    ("harlem", "Harlem"),
    ("eastvillage", "East Village"),
    ("flushing", "Flushing"),
]


def borough_zip_dim(spark: SparkSession) -> DataFrame:
    # values_dim -> LocalTableScan: broadcasting this dim costs no job
    return values_dim(spark, BOROUGH_ZIP_PREFIXES, "borough string, zip_prefix string")


# J7 (neighborhood -> borough) resolved at module load: the dim data is
# static Python constants, so the dim-to-dim join is a dict lookup here
# rather than an extra broadcast-join stage Janino has to compile into
# every query that touches location enrichment.
_NB_BOROUGH = {n[0]: n[1] for n in NEIGHBORHOODS}


def enrich_with_location(records: DataFrame, spark: SparkSession) -> DataFrame:
    """The full fallback cascade (location_consumer.py:329-372), as four
    broadcast left joins + coalesce:

    1. subreddit map (J5) — strongest signal;
    2. point-in-bbox (J3) — broadcast range join on lat/lon;
    3. zip -> neighborhood (J4), zip prefix -> borough (J2);
    4. text alias scan (J6) — first alias contained in lowercased text.

    Adds: neighborhood, borough, location_source. The signal columns are
    subreddit, latitude + longitude, zip and text; a lookup whose signal
    the records lack (e.g. reddit posts have no zip) is not joined, and
    its candidates read NULL — same as the reference's absent-field
    handling. Leaving the join out matters on a stream: there Catalyst
    keeps a join on a NULL key, as a nested-loop join against an empty
    relation.

    Construction note: the cascade is assembled as ONE spark.sql
    statement over `records`, passed as spark.sql's DataFrame argument,
    which makes and drops its own temp view (dims inline as VALUES →
    LocalRelation, so broadcasting them costs no job). PySpark Datasets
    analyze eagerly per transformation, so the previous ~15-op
    DataFrame chain paid ~15 rounds of growing-plan analysis (~0.7 s
    of driver time) before a single row moved; one statement is one
    analysis. The physical plan is unchanged (all-broadcast, zero
    fact-side exchange — pinned in tests/test_plans.py).
    """
    cols = records.columns
    text_c = "r.`text`" if "text" in cols else "CAST(NULL AS STRING)"

    def _values(rows, names) -> str:
        def lit(v):
            return slit(v) if isinstance(v, str) else dlit(v)

        body = ", ".join(
            "(" + ", ".join(lit(v) for v in r) + ")" for r in rows
        )
        return f"VALUES {body} AS t({', '.join(names)})"

    def _alias_case(pick) -> str:
        whens = " ".join(
            f"WHEN instr(__text_lc, {slit(a)}) > 0 THEN {slit(pick(a, n))}"
            for a, n in ALIASES
        )
        return f"CASE {whens} ELSE NULL END"

    sub_rows = [(s, n, _NB_BOROUGH[n]) for s, n in SUBREDDITS]
    bbox_rows = [(n[0], n[1], n[2], n[3], n[4], n[5]) for n in NEIGHBORHOODS]
    nz_rows = [(z, n[0], n[1]) for n in NEIGHBORHOODS for z in n[6]]
    bz_rows = [(p, b) for b, p in BOROUGH_ZIP_PREFIXES]
    # each lookup, by alias, with whether the records carry its signal
    lookups = {
        "s": ("subreddit" in cols, f"""({_values(sub_rows, ["subreddit", "sub_nbhd", "sub_borough"])}) s
               ON lower(r.`subreddit`) = s.subreddit"""),
        "n": ("latitude" in cols and "longitude" in cols, f"""({_values(bbox_rows, ["geo_nbhd", "geo_borough", "lat_min", "lat_max", "lon_min", "lon_max"])}) n
               ON r.`latitude` >= n.lat_min AND r.`latitude` <= n.lat_max
              AND r.`longitude` >= n.lon_min AND r.`longitude` <= n.lon_max"""),
        "z": ("zip" in cols, f"""({_values(nz_rows, ["zip", "zip_nbhd", "zip_borough"])}) z
               ON r.`zip` = z.zip"""),
        "p": ("zip" in cols, f"""({_values(bz_rows, ["zip_prefix", "pfx_borough"])}) p
               ON substring(r.`zip`, 1, 3) = p.zip_prefix"""),
    }
    joined = [a for a, (present, _) in lookups.items() if present]

    def cand(alias: str, col: str) -> str:
        return f"{alias}.{col}" if alias in joined else "NULL"

    hint = ", ".join(f"BROADCAST({a})" for a in joined)
    joins = "\n".join(f"LEFT JOIN {lookups[a][1]}" for a in joined)

    out_cols = ", ".join(f"r.{ident(c)}" for c in cols)
    # the alias when-chain is computed ONCE in the `r` subquery:
    # inlining it into the three output expressions tripled the
    # generated-code size and was the dominant Janino-compile cost
    return spark.sql(
        f"""
        SELECT {f"/*+ {hint} */" if hint else ""}
               {out_cols},
               COALESCE({cand("s", "sub_nbhd")}, {cand("n", "geo_nbhd")},
                        {cand("z", "zip_nbhd")}, r.__alias_nbhd) AS neighborhood,
               COALESCE({cand("s", "sub_borough")}, {cand("n", "geo_borough")},
                        {cand("z", "zip_borough")}, {cand("p", "pfx_borough")},
                        r.__alias_borough) AS borough,
               CASE WHEN {cand("s", "sub_nbhd")} IS NOT NULL THEN 'subreddit'
                    WHEN {cand("n", "geo_nbhd")} IS NOT NULL THEN 'coordinates'
                    WHEN {cand("z", "zip_nbhd")} IS NOT NULL
                         OR {cand("p", "pfx_borough")} IS NOT NULL THEN 'zip'
                    WHEN r.__alias_nbhd IS NOT NULL THEN 'text_extraction'
                    END AS location_source
        FROM (
            SELECT r.*,
                   {_alias_case(lambda a, n: n)} AS __alias_nbhd,
                   {_alias_case(lambda a, n: _NB_BOROUGH[n])} AS __alias_borough
            FROM (SELECT r.*, lower({text_c}) AS __text_lc FROM {{records}} r) r
        ) r
        {joins}
        """,
        records=records,
    )
