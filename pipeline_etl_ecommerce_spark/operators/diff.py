"""Snapshot reconciliation: row-level diff between two keyed table versions.

Every ETL system eventually answers "what changed between yesterday's load
and today's?" — for audit, for CDC bootstrap, for validating a migrated
pipeline against the legacy one (exactly how a reference-parity port like
this repo is accepted). The reference does this implicitly via MERGE
row-counts; this makes the diff a first-class, queryable result.

Output: one row per key that differs, with ``change_type`` in
{'added','removed','changed'} and the old/new values of every compared
column. Unchanged keys are dropped (at 100 TB the diff is small; the input
is not).

Scale design: ONE full-outer shuffle join on the key — no collect, no
per-column subqueries. Keys and compared columns both match null-safe
(``<=>``): a key with a NULL component is one row identity (as in the
keyed sinks), and a NULL→value or value→NULL flip is 'changed', not
'unchanged'. The companion ``table_checksum_by_day`` fingerprint query
answers "did anything change?" cheaply first; this operator answers "what
exactly?" only when needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.sinks import key_match


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Keyed diff of ``new`` against ``old``: null-safe full-outer join on
    ``key_cols``, classify each key as added / removed / changed by
    null-safe comparison of ``compare_cols``, and emit
    ``old_{col}`` / ``new_{col}`` pairs for each compared column."""
    keys = list(key_cols)
    cols = list(compare_cols)
    o = old.select(*keys, F.lit(True).alias("__in_old"), *[F.col(c).alias(f"old_{c}") for c in cols]).alias("__o")
    n = new.select(*keys, F.lit(True).alias("__in_new"), *[F.col(c).alias(f"new_{c}") for c in cols]).alias("__n")
    j = o.join(n, key_match("__o", "__n", keys), "full_outer")
    # keys-only diff (no compared columns) degrades to added/removed only
    any_diff = F.lit(False)
    for c in cols:
        any_diff = any_diff | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[F.coalesce(F.col(f"__o.{k}"), F.col(f"__n.{k}")).alias(k) for k in keys],
            "change_type", *[f"old_{c}" for c in cols], *[f"new_{c}" for c in cols],
        )
    )
