"""Forecasting operators (SURVEY §2.11 M10-M12, §2.10 U2).

The reference fits Prophet/SARIMA per (neighborhood, disease) group —
designed as a grouped-map pandas UDF but shipped as a driver-side
pandas loop (reference:
src/analysis/disease_outbreak_forecaster.py:39-51,148-203,328-398).

Two engine variants:

- `linear_forecast`: per-group OLS trend via the native regr_slope /
  regr_intercept aggregates — zero Python, exactly SQL-expressible
  (the oracle uses DuckDB's regr_* functions). This is the
  deterministic correctness-gate variant.
- `grouped_forecast_applyInPandas`: the reference's *intended* design —
  `groupBy(keys).applyInPandas(fit_fn)` — with a deterministic
  trend+day-of-week model standing in for Prophet (not installed here;
  the harness swaps models without changing the plan). Arrow-batched,
  one group per task: this is how per-group model fitting scales to
  thousands of groups on a cluster.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPOCH_DAY = "2024-01-01"


def linear_forecast(daily: DataFrame) -> DataFrame:
    """Per-event_type OLS forecast of a (event_type, day, cnt) daily
    series for the next 7 days, clipped at 0 (the reference clips
    predictions at 0: disease_outbreak_forecaster.py:84-86). Returns
    (event_type, horizon_day, predicted)."""
    x = F.datediff(F.col("day"), F.lit(EPOCH_DAY).cast("date")).cast("double")
    fit = daily.groupBy("event_type").agg(
        F.regr_slope(F.col("cnt").cast("double"), x).alias("slope"),
        F.regr_intercept(F.col("cnt").cast("double"), x).alias("icpt"),
        F.max(x).alias("mx"),
    )
    horizons = fit.select(
        "event_type",
        "slope",
        "icpt",
        "mx",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("horizon_day"),
    )
    pred = F.round(
        F.greatest(
            F.lit(0.0),
            F.col("icpt") + F.col("slope") * (F.col("mx") + F.col("horizon_day")),
        ),
        4,
    )
    return horizons.select(
        "event_type",
        F.col("horizon_day").cast("long").alias("horizon_day"),
        pred.alias("predicted"),
    )


def seasonal_dow_forecast(daily: DataFrame) -> DataFrame:
    """Additive weekly-seasonal 7-day forecast of a (event_type, day, cnt)
    daily series — Prophet's weekly-seasonality
    niche (disease_outbreak_forecaster.py:56-126's weekly_seasonality)
    in closed form: per-group day-of-week means give the seasonal
    component, OLS over the deseasonalized series gives the trend, and
    each horizon day re-adds its own day-of-week factor. Entirely
    native aggregates (one dow groupBy + regr_slope/regr_intercept) —
    no UDF, exactly SQL-replayable, and at scale two map-side-combinable
    shuffles on the group key (the dow table is groups×7 rows and
    broadcasts). Day-of-week is (days since 1970-01-01) % 7 on both
    engines, so no locale/weekstart ambiguity. Returns
    (event_type, forecast_day, horizon_day, predicted >= 0)."""
    x = F.datediff(F.col("day"), F.to_date(F.lit("1970-01-01"))).cast("long")
    base = daily.select(
        "event_type",
        x.alias("idx"),
        (x % 7).alias("dow"),
        F.col("cnt").cast("double").alias("y"),
    )
    dowm = base.groupBy("event_type", "dow").agg(F.avg("y").alias("dow_mean"))
    gm = base.groupBy("event_type").agg(F.avg("y").alias("gmean"))
    des = (
        base.join(dowm, ["event_type", "dow"])
        .join(gm, "event_type")
        .select(
            "event_type",
            "idx",
            (F.col("y") - (F.col("dow_mean") - F.col("gmean"))).alias("z"),
        )
    )
    fit = des.groupBy("event_type").agg(
        F.regr_slope(F.col("z"), F.col("idx").cast("double")).alias("slope"),
        F.regr_intercept(F.col("z"), F.col("idx").cast("double")).alias("icpt"),
        F.max("idx").alias("mx"),
    )
    fut = fit.select(
        "event_type",
        "slope",
        "icpt",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("h"),
        F.col("mx"),
    ).select(
        "event_type",
        "slope",
        "icpt",
        F.col("h").cast("long").alias("horizon_day"),
        (F.col("mx") + F.col("h")).alias("fidx"),
        ((F.col("mx") + F.col("h")) % 7).alias("dow"),
    )
    pred = F.round(
        F.greatest(
            F.lit(0.0),
            F.col("icpt")
            + F.col("slope") * F.col("fidx")
            + (F.col("dow_mean") - F.col("gmean")),
        ),
        4,
    )
    return (
        fut.join(F.broadcast(dowm), ["event_type", "dow"])
        .join(F.broadcast(gm), "event_type")
        .select(
            "event_type",
            F.date_add(F.to_date(F.lit("1970-01-01")), F.col("fidx").cast("int")).alias(
                "forecast_day"
            ),
            "horizon_day",
            pred.alias("predicted"),
        )
    )


FORECAST_SCHEMA = (
    "event_type string, horizon_day long, predicted double, method string"
)


def _make_fit_group():
    """Build the per-group fit function as a CLOSURE so cloudpickle
    serializes it by value: executors must not need this repo package on
    their sys.path (the correctness driver runs from an arbitrary cwd).
    Every pandas-UDF in this engine follows this rule."""

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # Deterministic stand-in for Prophet/SARIMA: OLS trend +
        # day-of-week offsets, one fit per group inside an executor
        # (the reference's intended grouped-map design,
        # disease_outbreak_forecaster.py:39-51).
        import numpy as np
        import pandas as _pd

        pdf = pdf.sort_values("day")
        x = pdf["day_idx"].to_numpy(dtype="float64")
        y = pdf["cnt"].to_numpy(dtype="float64")
        if len(x) >= 2:
            slope, icpt = np.polyfit(x, y, 1)
            method = "ols_dow"
        else:
            slope, icpt = 0.0, float(y.mean() if len(y) else 0.0)
            method = "mean"
        resid = y - (icpt + slope * x)
        dow = pdf["dow"].to_numpy()
        dow_off = {
            d: float(resid[dow == d].mean()) if (dow == d).any() else 0.0 for d in range(7)
        }
        mx = float(x.max()) if len(x) else 0.0
        rows = []
        for h in range(1, 8):
            xi = mx + h
            # day_idx 0 = 2024-01-01, a Monday; dow is Sunday=0 (Spark
            # dayofweek - 1), so the date at day_idx xi has dow (xi+1)%7.
            d = (int(xi) + 1) % 7
            pred = max(0.0, icpt + slope * xi + dow_off.get(d, 0.0))
            rows.append(
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "horizon_day": h,
                    "predicted": round(pred, 4),
                    "method": method,
                }
            )
        return _pd.DataFrame(rows)

    return fit_group


def grouped_forecast_applyInPandas(daily: DataFrame) -> DataFrame:
    """U2 as intended: one model fit per group, distributed via
    applyInPandas. Input: (day, event_type, cnt) daily series."""
    prepped = daily.select(
        "event_type",
        "day",
        F.col("cnt").cast("double").alias("cnt"),
        F.datediff(F.col("day"), F.lit(EPOCH_DAY).cast("date")).cast("long").alias("day_idx"),
        (F.dayofweek("day") - 1).cast("long").alias("dow"),
    )
    return prepped.groupBy("event_type").applyInPandas(_make_fit_group(), FORECAST_SCHEMA)
