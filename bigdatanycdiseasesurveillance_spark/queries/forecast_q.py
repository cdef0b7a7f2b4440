"""Forecasting query corpus (M10-M12 / U2)."""

from __future__ import annotations

from ..operators import aggregations as agg
from ..operators import forecast as FC
from ..registry import register
from ..tables import table


def _daily(spark, sf_dir):
    return agg.daily_counts(table(spark, sf_dir, "events"))


@register(
    "forecast_linear_trend",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   event_type, COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        ), fit AS (
            SELECT event_type,
                   regr_slope(CAST(cnt AS DOUBLE),
                              CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE)) AS slope,
                   regr_intercept(CAST(cnt AS DOUBLE),
                                  CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE)) AS icpt,
                   MAX(date_diff('day', DATE '2024-01-01', day)) AS mx
            FROM daily GROUP BY 1
        )
        SELECT event_type,
               CAST(h AS BIGINT) AS horizon_day,
               ROUND(GREATEST(0.0, icpt + slope * (mx + h)), 4) AS predicted
        FROM fit, generate_series(1, 7) t(h)
    """,
    tags=("forecast", "M10"),
)
def forecast_linear_trend(spark, sf_dir):
    """M10-class forecast, fully native: per-group OLS trend via
    regr_slope/regr_intercept aggregates, 7-day horizon, clipped at 0."""
    return FC.linear_forecast(_daily(spark, sf_dir))


@register(
    "forecast_grouped_pandas",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   event_type, COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        ), prep AS (
            SELECT event_type, CAST(cnt AS DOUBLE) AS cnt,
                   CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE) AS x,
                   dayofweek(day) AS dow
            FROM daily
        ), fit AS (
            SELECT event_type,
                   regr_slope(cnt, x) AS slope,
                   regr_intercept(cnt, x) AS icpt,
                   MAX(x) AS mx
            FROM prep GROUP BY 1
        ), resid AS (
            SELECT p.event_type, p.dow,
                   AVG(p.cnt - (f.icpt + f.slope * p.x)) AS dow_off
            FROM prep p JOIN fit f USING (event_type) GROUP BY 1, 2
        ), hor AS (
            SELECT f.event_type, t.h, f.mx + t.h AS xi, f.slope, f.icpt
            FROM fit f, generate_series(1, 7) t(h)
        )
        SELECT h.event_type,
               CAST(h.h AS BIGINT) AS horizon_day,
               ROUND(GREATEST(0.0,
                     h.icpt + h.slope * h.xi + COALESCE(r.dow_off, 0.0)), 4)
                   AS predicted,
               'ols_dow' AS method
        FROM hor h
        LEFT JOIN resid r
          ON r.event_type = h.event_type
         AND r.dow = (CAST(h.xi AS INTEGER) + 1) % 7
    """,
    tags=("forecast", "U2"),
)
def forecast_grouped_pandas(spark, sf_dir):
    """U2 as intended: groupBy(keys).applyInPandas(model fit) — Arrow-
    batched per-group fitting (deterministic trend+DOW model standing in
    for Prophet/SARIMA)."""
    return FC.grouped_forecast_applyInPandas(_daily(spark, sf_dir))
