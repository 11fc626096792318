"""Slowly-changing-dimension (type 2) history build from a change log.

The reference keeps only the LATEST value per key (every sink is a keyed
upsert — SURVEY.md §2.1 S9, ``tarefa_consolidar_dados.php:144``); an SCD2
history is what a warehouse needs when the *previous* values matter
(price-at-time-of-sale, status-at-time-of-event). This derives the full
interval table from the raw log with gaps-and-islands: consecutive rows with
the same attribute value collapse into one ``[valid_from, valid_to)`` run.

Scale shape: ONE shuffle on the dimension key. The change-flag lag window,
the running run-counter, the per-run aggregation, and the valid_to lead all
share the same hash partitioning on ``key_cols``, so Catalyst plans a single
Exchange with in-partition sorts — the whole history build is a map-side
pipeline after one shuffle, and it scales to a 100 TB log exactly like the
sessionizer (operators/sessions.py) it mirrors.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_from_log(
    df: DataFrame,
    key_cols: Sequence[str],
    attr_col: str,
    ts_col: str,
    *,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Collapse a change log into SCD2 intervals.

    One output row per maximal run of consecutive identical ``attr_col``
    values per key: ``valid_from`` (run's first ts), ``valid_to`` (next
    run's first ts, NULL for the current run), ``n_events`` (rows in the
    run), ``first_event`` (smallest tiebreak in the run, makes the output
    deterministic when two runs share a ``valid_from`` timestamp), and
    ``is_current``. Attribute comparison is null-safe: a NULL attribute is
    a value of its own, not a wildcard.
    """
    keys = [F.col(k) for k in key_cols]
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(*keys).orderBy(*order)
    prev = F.lag(attr_col).over(w)
    is_change = F.when(
        (F.row_number().over(w) == 1) | ~prev.eqNullSafe(F.col(attr_col)), 1
    ).otherwise(0)
    run = F.sum(is_change).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the run's ordering handle is the tiebreak of its FIRST event in
    # (ts, tiebreak) order — NOT min(tiebreak) over the run, which can
    # belong to a later event and misorder runs whose valid_from collide
    # (two changes in the same instant; found by the property test)
    first_tb = (
        F.min_by(tiebreak_cols[0], F.struct(ts_col, tiebreak_cols[0])).alias("first_event")
        if tiebreak_cols
        else F.min(ts_col).alias("first_event")
    )
    runs = (
        df.withColumn("__run", run)
        .groupBy(*key_cols, "__run", attr_col)
        .agg(
            F.min(ts_col).alias("valid_from"),
            F.count("*").alias("n_events"),
            first_tb,
        )
    )
    w2 = Window.partitionBy(*keys).orderBy("valid_from", "first_event")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__run")
        .withColumnRenamed(attr_col, "attr_value")
        .select(
            *key_cols,
            "attr_value",
            "valid_from",
            "valid_to",
            "n_events",
            "first_event",
            "is_current",
        )
    )


