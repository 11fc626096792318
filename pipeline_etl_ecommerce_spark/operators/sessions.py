"""Gap-based sessionization over event streams.

The reference's daily-grain rollups (SURVEY.md §2.10 T4,
`worker_processar_trafego.php:36`) quantize time into fixed calendar
buckets; sessionization is the data-dependent generalization a clickstream
/ training-telemetry pipeline needs: a new session starts whenever a user
is idle longer than ``gap``.

Scale shape: ONE shuffle on the user key. Both window passes (the lag that
flags session starts and the running sum that numbers sessions) and the
final per-session aggregation all share the same hash partitioning, so
Catalyst plans a single Exchange followed by in-partition sorts — no
second shuffle, no Python. Timestamps are plain numeric columns (int64
nanos for the events table), so the same arithmetic runs unchanged on any
engine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    gap: int,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Assign a per-user ``session_index`` (1-based) to every row.

    A row starts a new session when it is the user's first row or when
    ``ts - previous_ts > gap`` (same unit as ``ts_col``). ``tiebreak_cols``
    make the intra-user order total when timestamps can collide.
    """
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(user_col).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    is_start = F.when(
        prev_ts.isNull() | ((F.col(ts_col) - prev_ts) > F.lit(gap)), 1
    ).otherwise(0)
    running = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("__is_start", is_start).withColumn(
        "session_index", F.sum("__is_start").over(running).cast("long")
    ).drop("__is_start")


def dedupe_bursts(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    *,
    gap: int,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Windowed event dedup: keep a row only when the key's PREVIOUS row is
    more than ``gap`` older (same unit as ``ts_col``) — i.e. keep the first
    event of every activity burst and drop the rapid-fire repeats behind it.

    This is the batch analogue of Structured Streaming's
    ``dropDuplicatesWithinWatermark`` for retried/double-fired telemetry
    (the reference's queue workers re-enqueue rows on failure —
    SURVEY.md §2.10 T5 — so its event log contains exactly this debris).
    Semantics are gap-to-previous-ROW, not gap-to-previous-KEPT-row: the
    rule is a pure lag window, deterministic, and identical on any engine.

    Scale shape: one shuffle on ``key_cols``; the lag window and the filter
    are in-partition, nothing else moves.
    """
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    return (
        df.withColumn(
            "__keep", prev_ts.isNull() | ((F.col(ts_col) - prev_ts) > F.lit(gap))
        )
        .filter(F.col("__keep"))
        .drop("__keep")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str,
    date_col: str,
) -> DataFrame:
    """Weekly cohort-retention triangle: users bucketed by the ISO week of
    their FIRST event, counted distinct (``n_active``) per (cohort_week,
    week_offset) of later activity. ``date_col`` must be a DATE column.

    Scale shape: the first-event groupBy and the per-week activity distinct
    both shuffle on the user key, and the join that follows is co-partitioned
    on that same key (AQE reuses the exchange); the final aggregation output
    is tiny (weeks × offsets). ``date_trunc('week')`` is ISO-Monday on both
    Spark and DuckDB, so offsets divide evenly by 7.
    """
    firsts = (
        events.groupBy(user_col)
        .agg(F.min(date_col).alias("__first_date"))
        .select(
            user_col,
            F.date_trunc("week", F.col("__first_date")).cast("date").alias("cohort_week"),
        )
    )
    activity = events.select(
        user_col,
        F.date_trunc("week", F.col(date_col)).cast("date").alias("active_week"),
    ).distinct()
    return (
        activity.join(firsts, user_col)
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct(user_col).alias("n_active"))
    )


def session_stats(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    gap: int,
    value_col: str | None = None,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Sessionize then aggregate one row per (user, session): event count,
    start/end timestamps, duration, and (optionally) the rounded sum of
    ``value_col``. The aggregation reuses the sessionize shuffle."""
    sess = sessionize(
        df, user_col, ts_col, gap=gap, tiebreak_cols=tiebreak_cols
    )
    aggs = [
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (F.max(ts_col) - F.min(ts_col)).alias("duration"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 2).alias("total_value"))
    return sess.groupBy(user_col, "session_index").agg(*aggs)


def funnel_counts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    step_col: str,
    steps: Sequence[str],
    *,
    gap: int,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Ordered funnel conversion over sessions: a session 'reaches' step k
    when every step 1..k occurred in it IN ORDER (each step's first
    occurrence no earlier than the previous step's). Emits one row per
    step: (step_index, step, n_sessions).

    Scale shape: the sessionize shuffle on the user key is reused by the
    per-session conditional aggregation (first-ts-per-step via min of
    CASE); the funnel logic is then a per-row expression on the collapsed
    one-row-per-session table, and the final step counts are a tiny
    aggregate. Nothing beyond sessionize's single Exchange moves fact-scale
    data.
    """
    sess = sessionize(df, user_col, ts_col, gap=gap, tiebreak_cols=tiebreak_cols)
    aggs = [
        F.min(F.when(F.col(step_col) == s, F.col(ts_col))).alias(f"__t{i}")
        for i, s in enumerate(steps)
    ]
    per_session = sess.groupBy(user_col, "session_index").agg(*aggs)
    # reached[k] = all steps 0..k present and non-decreasing in time
    reached_exprs = []
    cond = None
    for i in range(len(steps)):
        c = F.col(f"__t{i}").isNotNull()
        if i > 0:
            c = c & (F.col(f"__t{i}") >= F.col(f"__t{i - 1}"))
        cond = c if cond is None else cond & c
        reached_exprs.append(F.sum(cond.cast("long")).alias(f"__n{i}"))
    counts = per_session.agg(*reached_exprs)
    # unpivot via ONE explode — a unionByName of per-step selects would
    # re-execute the whole sessionize+agg pipeline once per step
    structs = [
        F.struct(
            F.lit(i + 1).cast("int").alias("step_index"),
            F.lit(s).alias("step"),
            F.coalesce(F.col(f"__n{i}"), F.lit(0)).cast("long").alias("n_sessions"),
        )
        for i, s in enumerate(steps)
    ]
    return counts.select(F.explode(F.array(*structs)).alias("r")).select("r.*")
