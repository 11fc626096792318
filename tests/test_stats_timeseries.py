"""Golden tests for statistical profiling, time-series regularization,
and blocked fuzzy pairing."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.operators.dedupe import edit_distance_pairs
from pipeline_etl_ecommerce_spark.operators.stats import (
    descriptive_stats,
    fixed_histogram,
    group_percentiles,
    group_percentiles_cont,
)
from pipeline_etl_ecommerce_spark.operators.timeseries import (
    daily_gapfill,
    rolling_daily,
)


def test_descriptive_stats_golden(spark):
    # x = 1..4 paired with y = 2,4,6,8 (perfect correlation)
    df = spark.createDataFrame(
        [("g", 1.0, 2.0), ("g", 2.0, 4.0), ("g", 3.0, 6.0), ("g", 4.0, 8.0)],
        "k string, x double, y double",
    )
    r = descriptive_stats(df, ["k"], "x", "y").collect()[0]
    assert r.n == 4 and r.mean_x == 2.5
    assert abs(r.stddev_x - 1.290994) < 1e-6  # sqrt(5/3)
    assert r.corr_xy == 1.0


def test_group_percentiles_nearest_rank(spark):
    df = spark.createDataFrame(
        [("g", float(v)) for v in [10, 20, 30, 40, 50, 60, 70, 80, 90, 100]],
        "k string, v double",
    )
    r = group_percentiles(df, ["k"], "v", [0.5, 0.95], out_names=["p50", "p95"]).collect()[0]
    # nearest-rank: ceil(.5*10)=5 -> 50; ceil(.95*10)=10 -> 100
    assert (r.p50, r.p95) == (50.0, 100.0)


def test_group_percentiles_cont_matches_numpy_linear(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    groups = {"a": rng.normal(size=37).round(3), "b": rng.normal(size=2).round(3),
              "c": np.array([4.25])}
    df = spark.createDataFrame(
        [(g, float(v)) for g, vs in groups.items() for v in vs], "k string, v double"
    )
    ps = [0.0, 0.1, 0.25, 0.5, 0.9, 1.0]
    names = [f"q{i}" for i in range(len(ps))]
    got = {r.k: [r[n] for n in names]
           for r in group_percentiles_cont(df, ["k"], "v", ps, out_names=names).collect()}
    want = {g: [round(float(np.percentile(vs, 100 * p, method="linear")), 6) for p in ps]
            for g, vs in groups.items()}
    assert got.keys() == want.keys()
    for g in want:
        assert got[g] == pytest.approx(want[g], abs=1e-6), g


def test_percentiles_rank_nulls_last_and_count_only_values(spark):
    """{NULL, 1, 2, 3}: SQL's percentile_disc / percentile_cont give 2.0 at
    p50 — NULL is not a value, so it takes no rank below the data and does
    not count in n. An all-NULL group keeps its row with NULL statistics."""
    from pipeline_etl_ecommerce_spark.operators.stats import group_mad, winsorized_stats

    df = spark.createDataFrame(
        [("g", None), ("g", 1.0), ("g", 2.0), ("g", 3.0), ("e", None)], "k string, v double"
    )
    disc = group_percentiles(df, ["k"], "v", [0.5], out_names=["p50"], n_col="n")
    assert {r.k: (r.p50, r.n) for r in disc.collect()} == {"g": (2.0, 3), "e": (None, 0)}
    cont = group_percentiles_cont(df, ["k"], "v", [0.5, 1.0], out_names=["p50", "p100"])
    assert {r.k: (r.p50, r.p100) for r in cont.collect()} == {
        "g": (2.0, 3.0), "e": (None, None)
    }
    sql = df.groupBy("k").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").alias("d"),
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY v)").alias("c"),
    )
    assert {r.k: (r.d, r.c) for r in sql.collect()} == {"g": (2.0, 2.0), "e": (None, None)}
    mad = {r.k: (r.n, r.median, r.mad) for r in group_mad(df, ["k"], "v").collect()}
    assert mad == {"g": (3, 2.0, 1.0), "e": (0, None, None)}
    w = {r.k: r.asDict() for r in winsorized_stats(df, ["k"], "v").collect()}
    assert (w["g"]["n"], w["g"]["p_lo"], w["g"]["p_hi"]) == (3, 1.0, 3.0)
    assert (w["g"]["winsorized_sum"], w["g"]["winsorized_mean"]) == (6.0, 2.0)
    assert (w["e"]["n"], w["e"]["winsorized_sum"], w["e"]["winsorized_mean"]) == (0, None, None)


def test_fixed_histogram_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [("g", -5.0), ("g", 0.0), ("g", 9.9), ("g", 10.0), ("g", 99.0)],
        "k string, v double",
    )
    out = fixed_histogram(df, ["k"], "v", lo=0.0, width=10.0, n_buckets=3)
    got = {r.bucket: r.n_rows for r in out.collect()}
    assert got == {0: 3, 1: 1, 2: 1}  # below-lo clamps to 0, above-hi to last


def _daily_df(spark):
    d = dt.date
    rows = [
        (1, d(2024, 1, 1), 10.0),
        (1, d(2024, 1, 1), 5.0),   # same day, second row
        (1, d(2024, 1, 4), 30.0),  # 2-day calendar gap
        (2, d(2024, 1, 2), 7.0),
    ]
    return spark.createDataFrame(rows, "uid long, day date, value double")


def test_daily_gapfill_fills_span_with_zero_days(spark):
    out = daily_gapfill(
        _daily_df(spark), "uid", "day",
        agg_cols={"total": F.round(F.sum("value"), 2)},
    )
    got = {(r.uid, str(r.day)): (r.n_rows, r.total) for r in out.collect()}
    assert got[(1, "2024-01-01")] == (2, 15.0)
    assert got[(1, "2024-01-02")] == (0, None)  # filled gap day
    assert got[(1, "2024-01-03")] == (0, None)
    assert got[(1, "2024-01-04")] == (1, 30.0)
    assert got[(2, "2024-01-02")] == (1, 7.0)
    assert len(got) == 5  # spine is per-user span, not a global calendar


def test_rolling_daily_range_frame_respects_gaps(spark):
    d = dt.date
    rows = [(1, d(2024, 1, 1), 10.0), (1, d(2024, 1, 5), 20.0), (1, d(2024, 1, 20), 40.0)]
    df = spark.createDataFrame(rows, "uid long, day date, value double")
    out = rolling_daily(df, "uid", "day", "value", window_days=7)
    got = {str(r.day): r for r in out.collect()}
    # Jan 5: Jan 1 is 4 days back -> inside the 7-day range frame
    assert got["2024-01-05"].trailing_sum == 30.0
    assert got["2024-01-05"].running_total == 30.0
    # Jan 20: both prior days outside the range frame, still in running total
    assert got["2024-01-20"].trailing_sum == 40.0
    assert got["2024-01-20"].trailing_avg == 40.0
    assert got["2024-01-20"].running_total == 70.0


def test_edit_distance_pairs_blocking_and_threshold(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "en"),
        (2, base.replace("quick", "quiet"), "en"),   # dist 2, same block
        (3, base, "pt"),                              # identical text, other lang
        (4, "completely different text entirely x" * 2, "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = edit_distance_pairs(
        df, "text", "doc_id", block_cols=["lang"], length_bucket=1000,
        prefix_len=60, max_dist=5,
    ).collect()
    assert [(r.doc_a, r.doc_b, r.edit_dist) for r in out] == [(1, 2, 2)]


def test_winsorized_stats_clips_outliers(spark):
    from pipeline_etl_ecommerce_spark.operators.stats import winsorized_stats

    # group "a": 1..19 plus a 10_000 outlier; nearest-rank p05 (rank 1) = 1,
    # p95 (rank 19) = 19 -> the outlier clips to 19
    rows = [("a", float(v)) for v in range(1, 20)] + [("a", 10_000.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = winsorized_stats(df, ["g"], "x").collect()[0]
    assert got["n"] == 20
    assert got["p_lo"] == 1.0 and got["p_hi"] == 19.0
    expected_sum = float(sum(range(1, 20)) + 19)
    assert got["winsorized_sum"] == expected_sum
    assert got["winsorized_mean"] == round(expected_sum / 20, 6)


def test_group_mad_ignores_outliers(spark):
    from pipeline_etl_ecommerce_spark.operators.stats import group_mad

    # 1..9 with one wild outlier: median 5 (rank ceil(0.5*10)=5), MAD is
    # the median of |x-5| = [4,3,2,1,0,1,2,3,4,9995] sorted -> rank 5 = 2
    rows = [("a", float(v)) for v in range(1, 10)] + [("a", 10_000.0)]
    got = group_mad(spark.createDataFrame(rows, "g string, x double"), ["g"], "x").collect()[0]
    assert got["n"] == 10 and got["median"] == 5.0 and got["mad"] == 2.0
