"""Determinism + contract checks for the applyInPandas forecaster."""

from __future__ import annotations

from bigdatanycdiseasesurveillance_spark.operators import aggregations as agg
from bigdatanycdiseasesurveillance_spark.operators import forecast as FC
from bigdatanycdiseasesurveillance_spark.tables import table


def _daily(spark, sf_dir):
    return agg.daily_counts(table(spark, sf_dir, "events"))


def test_grouped_forecast_deterministic(spark, sf_dir):
    daily = _daily(spark, sf_dir)
    a = sorted(map(tuple, FC.grouped_forecast_applyInPandas(daily).collect()))
    b = sorted(map(tuple, FC.grouped_forecast_applyInPandas(daily).collect()))
    assert a == b
    assert len(a) > 0
    assert all(r[2] >= 0.0 for r in a)  # predictions clipped at 0


def test_grouped_forecast_full_horizon_per_group(spark, sf_dir):
    daily = _daily(spark, sf_dir)
    out = FC.grouped_forecast_applyInPandas(daily)
    n_groups = daily.select("event_type").distinct().count()
    assert out.count() == n_groups * 7
