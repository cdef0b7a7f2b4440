"""Invariants for the association / sequence module (oracle parity
runs in test_oracle_parity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatanycdiseasesurveillance_spark.registry import all_specs
from bigdatanycdiseasesurveillance_spark.tables import table

SPECS = all_specs()


def test_basket_metrics_are_consistent(spark, sf_dir):
    rows = SPECS["market_basket_lift"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["x"] < r["y"]
        assert 0.0 < r["support"] <= 1.0
        assert 0.0 < r["confidence_x_y"] <= 1.0
        assert r["lift"] > 0.0
        # confidence = support / P(x) >= support
        assert r["confidence_x_y"] >= r["support"] - 1e-12


def test_streaks_reconcile_with_activity(spark, sf_dir):
    rows = SPECS["win_streaks"].fn(spark, sf_dir).collect()
    d = (
        table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").alias("n_days"))
    )
    expect = {r["user_id"]: r["n_days"] for r in d.collect()}
    assert {r["user_id"] for r in rows} == set(expect)
    for r in rows:
        assert r["n_active_days"] == expect[r["user_id"]]
        assert 1 <= r["longest_streak"] <= r["n_active_days"]
        assert r["n_streaks"] >= 1
        # streaks partition active days
        assert r["longest_streak"] * r["n_streaks"] >= r["n_active_days"]


def test_mode_is_actual_argmax(spark, sf_dir):
    rows = SPECS["agg_mode_per_group"].fn(spark, sf_dir).collect()
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .count()
        .collect()
    )
    best: dict = {}
    for c in counts:
        cur = best.get(c["user_id"])
        key = (-c["count"], c["event_type"])
        if cur is None or key < cur[0]:
            best[c["user_id"]] = (key, c["event_type"], c["count"])
    assert len(rows) == len(best)
    for r in rows:
        _, mtype, mcount = best[r["user_id"]]
        assert r["mode_type"] == mtype and r["mode_count"] == mcount


def test_forward_asof_matches_are_next_clicks(spark, sf_dir):
    rows = SPECS["join_asof_forward_tolerance"].fn(spark, sf_dir).collect()
    assert rows
    matched = [r for r in rows if r["next_click_id"] is not None]
    assert matched
    for r in matched:
        assert 0.0 <= r["wait_seconds"] <= 3600.0
    # every purchase appears exactly once (left semantics)
    n_purchases = (
        table(spark, sf_dir, "events").filter("event_type = 'purchase'").count()
    )
    assert len(rows) == n_purchases


def test_hll_partial_merge_within_tolerance(spark, sf_dir):
    """Sketch-union over per-day partials and the whole-column sketch
    must BOTH sit within the 5% band (floored at 1) around the exact
    distinct. Bit-equality of merged vs direct is deliberately NOT
    asserted — beyond sparse mode the union's dense register state can
    legally estimate a few counts off the direct sketch (caught by the
    sf0.1 sweep)."""
    rows = SPECS["agg_hll_partial_merge"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["merge_within_5pct"], r
        assert r["estimate_within_5pct"], r


def test_rolling_median_is_robust_center(spark, sf_dir):
    rows = SPECS["win_rolling_median"].fn(spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r["day"])
        assert series[0]["med7"] == series[0]["cnt"]
        for i, r in enumerate(series):
            frame = sorted(s["cnt"] for s in series[max(0, i - 6) : i + 1])
            n = len(frame)
            expect = (
                float(frame[n // 2])
                if n % 2 == 1
                else (frame[n // 2 - 1] + frame[n // 2]) / 2.0
            )
            assert r["med7"] == expect, (r, frame)


def test_cms_split_merge_identity(spark, sf_dir, monkeypatch):
    """CMS mergeability: the sketch of the full corpus must equal the
    (d, bucket)-wise SUM of the sketches of any disjoint split — the
    algebra that lets per-day sketch partials answer range queries at
    100 TB without re-scanning raw keys."""
    from pyspark.sql import functions as F

    from bigdatanycdiseasesurveillance_spark.operators import sketches
    from bigdatanycdiseasesurveillance_spark.operators.sketches import cms_table
    from bigdatanycdiseasesurveillance_spark.tables import table

    monkeypatch.setattr(sketches, "CMS_WIDTH", 16)
    monkeypatch.setattr(sketches, "CMS_DEPTH", 3)

    e = table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_key"), "event_id"
    )
    full = cms_table(e)
    half_a = cms_table(e.filter(F.col("event_id") % 2 == 0))
    half_b = cms_table(e.filter(F.col("event_id") % 2 == 1))
    merged = (
        half_a.unionByName(half_b)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    diff = full.join(merged, ["d", "bucket"], "full").filter(
        F.coalesce(full["cnt"], F.lit(0)) != F.coalesce(merged["cnt"], F.lit(0))
    )
    assert diff.count() == 0


def test_cms_never_undercounts(spark, sf_dir):
    rows = SPECS["sketch_cms_user_counts"].fn(spark, sf_dir).collect()
    assert rows and all(r["never_undercounts"] for r in rows)
    assert all(r["cms_est"] >= r["exact_cnt"] for r in rows)
