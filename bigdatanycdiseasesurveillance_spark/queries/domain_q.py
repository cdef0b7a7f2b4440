"""Domain-layer query: the location-enrichment fallback cascade (J2-J7)
run over synthetic geo fields derived deterministically from `events`,
so the DuckDB oracle can reproduce it with VALUES dims."""

from __future__ import annotations

from ..domain.location import enrich_with_location
from ..registry import register
from ..tables import parallelize_scan, table

_ZIPS = ["11102", "11211", "10027", "10003", "10463", "11354", "99999", "10550"]
_SUBS = ["astoria", "williamsburg", "bushwick", "not_a_sub", "flushing"]
_TEXTS = ["visited wburg today", "meet at east vil", "harlem ny walk", "somewhere else"]


def _records(spark, sf_dir):
    """Synthetic geo-bearing records: zip/subreddit/coords/text derived
    from user_id/event_id arithmetic (integer mod only — float fmod
    semantics differ across engines)."""
    # the cascade downstream is shuffle-free, so scan splits are the only
    # parallelism it will ever have — rebalance single-row-group inputs
    ev = parallelize_scan(table(spark, sf_dir, "events"))

    def arr(vals) -> str:
        return "array(" + ", ".join(f"'{v}'" for v in vals) + ")"

    # one selectExpr call — a Column-at-a-time build of these six
    # expressions is ~20 Py4J round-trips of plan construction
    return ev.selectExpr(
        "event_id",
        f"element_at({arr(_ZIPS)}, CAST(user_id % 8 + 1 AS INT)) AS zip",
        "CASE WHEN event_type = 'click' THEN "
        f"element_at({arr(_SUBS)}, CAST(user_id % 5 + 1 AS INT)) END AS subreddit",
        "CASE WHEN event_type = 'purchase' THEN "
        "40.60D + CAST(user_id % 37 AS DOUBLE) / 100.0D END AS latitude",
        "CASE WHEN event_type = 'purchase' THEN "
        "-74.00D + CAST(user_id % 23 AS DOUBLE) / 100.0D END AS longitude",
        f"element_at({arr(_TEXTS)}, CAST(event_id % 4 + 1 AS INT)) AS text",
    )


@register(
    "loc_fallback_resolution",
    oracle="""
        WITH rec AS (
            SELECT event_id,
                   (['11102','11211','10027','10003','10463','11354','99999','10550'])
                       [CAST(user_id % 8 + 1 AS INTEGER)] AS zip,
                   CASE WHEN event_type = 'click' THEN
                       (['astoria','williamsburg','bushwick','not_a_sub','flushing'])
                           [CAST(user_id % 5 + 1 AS INTEGER)] END AS subreddit,
                   CASE WHEN event_type = 'purchase'
                        THEN 40.60 + CAST(user_id % 37 AS DOUBLE) / 100.0 END AS latitude,
                   CASE WHEN event_type = 'purchase'
                        THEN -74.00 + CAST(user_id % 23 AS DOUBLE) / 100.0 END AS longitude,
                   (['visited wburg today','meet at east vil','harlem ny walk','somewhere else'])
                       [CAST(event_id % 4 + 1 AS INTEGER)] AS text
            FROM events
        ), nbhd AS (
            SELECT * FROM (VALUES
                ('Astoria','Queens',40.756,40.786,-73.945,-73.905),
                ('Williamsburg','Brooklyn',40.697,40.725,-73.972,-73.935),
                ('Bushwick','Brooklyn',40.683,40.709,-73.945,-73.895),
                ('Harlem','Manhattan',40.797,40.835,-73.965,-73.920),
                ('East Village','Manhattan',40.721,40.734,-73.995,-73.972),
                ('Riverdale','Bronx',40.880,40.915,-73.930,-73.890),
                ('Flushing','Queens',40.745,40.775,-73.845,-73.800),
                ('St. George','Staten Island',40.635,40.650,-74.090,-74.065))
                t(neighborhood, borough, lat_min, lat_max, lon_min, lon_max)
        ), nbhd_zip AS (
            SELECT * FROM (VALUES
                ('11102','Astoria','Queens'),('11103','Astoria','Queens'),
                ('11105','Astoria','Queens'),('11106','Astoria','Queens'),
                ('11211','Williamsburg','Brooklyn'),('11249','Williamsburg','Brooklyn'),
                ('11206','Bushwick','Brooklyn'),('11207','Bushwick','Brooklyn'),
                ('11221','Bushwick','Brooklyn'),('11237','Bushwick','Brooklyn'),
                ('10026','Harlem','Manhattan'),('10027','Harlem','Manhattan'),
                ('10030','Harlem','Manhattan'),('10037','Harlem','Manhattan'),
                ('10039','Harlem','Manhattan'),
                ('10003','East Village','Manhattan'),('10009','East Village','Manhattan'),
                ('10463','Riverdale','Bronx'),('10471','Riverdale','Bronx'),
                ('11354','Flushing','Queens'),('11355','Flushing','Queens'),
                ('11358','Flushing','Queens'),('10301','St. George','Staten Island'))
                t(zip, zip_nbhd, zip_borough)
        ), pfx AS (
            SELECT * FROM (VALUES
                ('Manhattan','100'),('Manhattan','101'),('Manhattan','102'),
                ('Bronx','104'),('Staten Island','103'),
                ('Queens','110'),('Queens','111'),('Queens','113'),
                ('Queens','114'),('Queens','116'),('Brooklyn','112'))
                t(pfx_borough, zip_prefix)
        ), subs AS (
            SELECT * FROM (VALUES
                ('astoria','Astoria','Queens'),('williamsburg','Williamsburg','Brooklyn'),
                ('bushwick','Bushwick','Brooklyn'),('harlem','Harlem','Manhattan'),
                ('eastvillage','East Village','Manhattan'),('flushing','Flushing','Queens'))
                t(subreddit, sub_nbhd, sub_borough)
        ), j AS (
            SELECT r.event_id,
                   s.sub_nbhd, s.sub_borough,
                   n.neighborhood AS geo_nbhd, n.borough AS geo_borough,
                   z.zip_nbhd, z.zip_borough,
                   p.pfx_borough,
                   CASE WHEN contains(lower(r.text), 'astoria queens') THEN 'Astoria'
                        WHEN contains(lower(r.text), 'wburg') THEN 'Williamsburg'
                        WHEN contains(lower(r.text), 'the burg') THEN 'Williamsburg'
                        WHEN contains(lower(r.text), 'east vil') THEN 'East Village'
                        WHEN contains(lower(r.text), 'ev') THEN 'East Village'
                        WHEN contains(lower(r.text), 'harlem ny') THEN 'Harlem' END AS alias_nbhd,
                   CASE WHEN contains(lower(r.text), 'astoria queens') THEN 'Queens'
                        WHEN contains(lower(r.text), 'wburg') THEN 'Brooklyn'
                        WHEN contains(lower(r.text), 'the burg') THEN 'Brooklyn'
                        WHEN contains(lower(r.text), 'east vil') THEN 'Manhattan'
                        WHEN contains(lower(r.text), 'ev') THEN 'Manhattan'
                        WHEN contains(lower(r.text), 'harlem ny') THEN 'Manhattan' END AS alias_borough
            FROM rec r
            LEFT JOIN subs s ON lower(r.subreddit) = s.subreddit
            LEFT JOIN nbhd n ON r.latitude >= n.lat_min AND r.latitude <= n.lat_max
                             AND r.longitude >= n.lon_min AND r.longitude <= n.lon_max
            LEFT JOIN nbhd_zip z ON r.zip = z.zip
            LEFT JOIN pfx p ON substring(r.zip, 1, 3) = p.zip_prefix
        )
        SELECT event_id,
               COALESCE(sub_nbhd, geo_nbhd, zip_nbhd, alias_nbhd) AS neighborhood,
               COALESCE(sub_borough, geo_borough, zip_borough, pfx_borough,
                        alias_borough) AS borough,
               CASE WHEN sub_nbhd IS NOT NULL THEN 'subreddit'
                    WHEN geo_nbhd IS NOT NULL THEN 'coordinates'
                    WHEN zip_nbhd IS NOT NULL OR pfx_borough IS NOT NULL THEN 'zip'
                    WHEN alias_nbhd IS NOT NULL THEN 'text_extraction' END
                   AS location_source
        FROM j
    """,
    tags=("domain", "J2", "J3", "J4", "J5", "J6", "J7"),
    bench=True,
)
def loc_fallback_resolution(spark, sf_dir):
    """J2-J7 in one cascade: subreddit map, point-in-bbox range join,
    zip and zip-prefix lookups, text-alias scan — broadcast joins +
    coalesce fallback priority (the reference's per-record dict scans,
    distributed)."""
    recs = _records(spark, sf_dir)
    return enrich_with_location(recs, spark).select(
        "event_id", "neighborhood", "borough", "location_source"
    )
