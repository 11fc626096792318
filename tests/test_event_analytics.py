"""Golden + plan-shape tests for the event-time analytics operators:
gap sessionization, as-of join, keyed range join, ROLLUP/CUBE/pivot,
and exact heavy hitters."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.operators.asof import asof_join, range_join
from pipeline_etl_ecommerce_spark.operators.olap import (
    cube_agg,
    pivot_agg,
    rollup_agg,
)
from pipeline_etl_ecommerce_spark.operators.sessions import (
    session_stats,
    sessionize,
)
from pipeline_etl_ecommerce_spark.operators.textstats import vocab_top_terms


def _events_df(spark):
    #            user  ts  eid
    rows = [
        (1, 0, 1),     # session 1
        (1, 50, 2),    # same session (gap 50 <= 100)
        (1, 151, 3),   # new session (gap 101 > 100)
        (1, 251, 4),   # same session (gap exactly 100 is NOT a new session)
        (2, 10, 5),    # single-event session
    ]
    return spark.createDataFrame(rows, "user long, ts long, eid long")


def test_sessionize_gap_boundaries(spark):
    out = sessionize(_events_df(spark), "user", "ts", gap=100, tiebreak_cols=["eid"])
    got = {(r.user, r.eid): r.session_index for r in out.collect()}
    assert got == {(1, 1): 1, (1, 2): 1, (1, 3): 2, (1, 4): 2, (2, 5): 1}


def test_session_stats_golden(spark):
    out = session_stats(_events_df(spark), "user", "ts", gap=100, tiebreak_cols=["eid"])
    by_key = {(r.user, r.session_index): r for r in out.collect()}
    s = by_key[(1, 2)]
    assert (s.n_events, s.session_start, s.session_end, s.duration) == (2, 151, 251, 100)
    assert by_key[(2, 1)].duration == 0


def test_asof_join_inclusive_tiebreak_and_miss(spark):
    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 15, "early"), (2, 50, "nomatch")],
        "k long, lts long, tag string",
    )
    right = spark.createDataFrame(
        # two rights tied at ts=100 for k=1: tiebreak keeps rid=9
        [(1, 10, 7, "old"), (1, 100, 8, "tie_lo"), (1, 100, 9, "tie_hi")],
        "k long, rts long, rid long, rtag string",
    )
    out = asof_join(
        left, right, ["k"], "lts", "rts",
        payload_cols=["rid", "rtag"], right_tiebreak="rid",
    ).collect()
    got = {r.tag: (r.asof_rid, r.asof_rtag) for r in out}
    assert got["a"] == (9, "tie_hi")  # inclusive at equal ts, max tiebreak wins
    assert got["early"] == (7, "old")
    assert got["nomatch"] == (None, None)  # left join keeps unmatched rows


def test_asof_join_is_single_shuffle_no_join(spark):
    left = spark.createDataFrame([(1, 100)], "k long, lts long")
    right = spark.createDataFrame([(1, 10, 1)], "k long, rts long, rid long")
    out = asof_join(left, right, ["k"], "lts", "rts",
                    payload_cols=["rid"], right_tiebreak="rid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # union+window, not a join
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_half_open_bounds_across_buckets(spark):
    left = spark.createDataFrame([(1, 1000, 1)], "k long, lts long, lid long")
    right = spark.createDataFrame(
        [(1, 899, 1), (1, 900, 2), (1, 999, 3), (1, 1000, 4), (2, 950, 5)],
        "k long, rts long, rid long",
    )
    # window [lts-100, lts): rts in {900, 999}; bucket smaller than the
    # window forces multi-cell explode and catches double-counted cells
    out = range_join(left, right, ["k"], "lts", "rts", lo=-100, hi=0, bucket=64)
    assert sorted(r.rid for r in out.collect()) == [2, 3]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_rollup_cube_gid_encoding(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], "d1 string, d2 string, v long"
    )
    roll = rollup_agg(df, ["d1", "d2"], [F.sum("v").alias("s")]).collect()
    got = {(r.d1, r.d2, r.gid): r.s for r in roll}
    assert got[("a", "x", 0)] == 1 and got[("a", None, 1)] == 3
    assert got[(None, None, 3)] == 7
    assert len(roll) == 3 + 2 + 1  # leaf, per-d1, grand total
    cube = cube_agg(df, ["d1", "d2"], [F.sum("v").alias("s")]).collect()
    cgot = {(r.d1, r.d2, r.gid): r.s for r in cube}
    assert cgot[(None, "x", 2)] == 5  # the subset ROLLUP lacks
    assert len(cube) == 3 + 2 + 2 + 1


def test_pivot_explicit_values(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], "d string, p string, v long"
    )
    out = pivot_agg(df, ["d"], "p", ["x", "y", "z"], F.sum("v"), out_prefix="v_")
    rows = {r.d: r for r in out.collect()}
    assert rows["a"].v_x == 1 and rows["a"].v_y == 2 and rows["a"].v_z is None
    assert rows["b"].v_x == 4 and rows["b"].v_y is None
    assert out.columns == ["d", "v_x", "v_y", "v_z"]  # static, data-independent


def test_vocab_top_terms_rank_and_ties(spark):
    df = spark.createDataFrame(
        [(1, "b b a"), (2, "a c  B")], "doc_id long, text string"
    )
    out = vocab_top_terms(df, "text", "doc_id", k=2).collect()
    # counts: a=2 (2 docs), b=3 (2 docs, case-folded); c loses the cut
    assert [(r.term, r.n_occurrences, r.n_docs, r.rnk) for r in out] == [
        ("b", 3, 2, 1),
        ("a", 2, 2, 2),
    ]


# ---------------------------------------------------------------------------
# SCD2 history, burst dedup, cohort retention (batch 15)
# ---------------------------------------------------------------------------

from pipeline_etl_ecommerce_spark.operators.scd import scd2_from_log
from pipeline_etl_ecommerce_spark.operators.sessions import (
    cohort_retention,
    dedupe_bursts,
)


def _log_df(spark):
    #            key  ts  eid  attr
    rows = [
        (1, 0, 1, "a"),
        (1, 10, 2, "a"),    # same run
        (1, 20, 3, "b"),    # change -> run 2
        (1, 30, 4, "a"),    # change BACK -> run 3 (a again, separate run)
        (2, 0, 5, None),    # NULL attr is a value of its own
        (2, 10, 6, None),   # same run (null-safe compare)
        (2, 20, 7, "x"),    # change
    ]
    return spark.createDataFrame(rows, "k long, ts long, eid long, attr string")


def test_scd2_runs_and_intervals(spark):
    out = scd2_from_log(_log_df(spark), ["k"], "attr", "ts", tiebreak_cols=["eid"])
    rows = {(r.k, r.valid_from): r for r in out.collect()}
    # key 1: three runs a[0,20) b[20,30) a[30,None)
    assert (rows[(1, 0)].attr_value, rows[(1, 0)].valid_to, rows[(1, 0)].n_events) == ("a", 20, 2)
    assert (rows[(1, 20)].attr_value, rows[(1, 20)].valid_to) == ("b", 30)
    assert rows[(1, 30)].attr_value == "a" and rows[(1, 30)].valid_to is None
    assert rows[(1, 30)].is_current and not rows[(1, 0)].is_current
    # key 2: NULL run collapses null-safely, then x
    assert rows[(2, 0)].attr_value is None and rows[(2, 0)].n_events == 2
    assert rows[(2, 20)].attr_value == "x" and rows[(2, 20)].is_current


def test_scd2_single_shuffle_plan(spark):
    hist = scd2_from_log(_log_df(spark), ["k"], "attr", "ts", tiebreak_cols=["eid"])
    plan = hist._jdf.queryExecution().executedPlan().toString()
    # the lag/run windows, groupBy, and lead window all share the hash
    # partitioning on k: exactly one exchange in the whole history build
    assert plan.count("Exchange") == 1


def test_dedupe_bursts_gap_to_previous_row(spark):
    rows = [
        (1, "c", 0, 1),
        (1, "c", 50, 2),    # within gap of previous -> dropped
        (1, "c", 90, 3),    # within gap of PREVIOUS ROW (40 <= 100) -> dropped
        (1, "c", 250, 4),   # gap 160 > 100 -> kept
        (1, "d", 55, 5),    # different type: own stream -> kept
        (2, "c", 60, 6),    # different user -> kept
    ]
    df = spark.createDataFrame(rows, "user long, et string, ts long, eid long")
    kept = {r.eid for r in dedupe_bursts(df, ["user", "et"], "ts", gap=100, tiebreak_cols=["eid"]).collect()}
    assert kept == {1, 4, 5, 6}


def test_cohort_retention_triangle(spark):
    rows = [
        # user 1: first event Mon 2024-01-01 week, active again 2 weeks later
        (1, "2024-01-03"),
        (1, "2024-01-16"),
        # user 2: same cohort week, only week 0
        (2, "2024-01-05"),
        # user 3: next cohort week
        (3, "2024-01-10"),
    ]
    df = spark.createDataFrame(rows, "user long, d string").select(
        "user", F.col("d").cast("date").alias("d")
    )
    out = {(str(r.cohort_week), r.week_offset): r.n_active for r in cohort_retention(df, "user", "d").collect()}
    assert out == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_funnel_requires_in_order_steps_within_session(spark):
    from pipeline_etl_ecommerce_spark.operators.sessions import funnel_counts

    rows = [
        # user 1, session 1: full ordered funnel
        (1, 0, 1, "view"), (1, 10, 2, "click"), (1, 20, 3, "purchase"),
        # user 2: click BEFORE view -> reaches step 1 only
        (2, 0, 4, "click"), (2, 10, 5, "view"),
        # user 3: view then purchase in a LATER session (gap > 100):
        # neither session has the ordered pair, so step 2 not reached
        (3, 0, 6, "view"), (3, 500, 7, "click"),
        # user 4: no view at all -> no steps
        (4, 0, 8, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user long, ts long, eid long, et string")
    out = {r.step: r.n_sessions for r in funnel_counts(
        df, "user", "ts", "et", ["view", "click", "purchase"], gap=100, tiebreak_cols=["eid"]
    ).collect()}
    assert out == {"view": 3, "click": 1, "purchase": 1}
