"""Skew-mitigation operators: salting for hot keys.

AQE's skew-join splitting handles most cases automatically (enabled in
``session.get_spark``), but two patterns still need explicit salting at
100 TB:

- aggregations where one key holds a large share of all rows (a mega-parent
  listing, an empty-string SKU): one reducer gets the whole key. Salting
  splits it into ``n_salts`` partial groups, then a second cheap aggregation
  over ``n_salts`` rows per key merges them (classic two-phase aggregation).
- joins of a skewed fact against a non-broadcastable dim: replicate the dim
  ``n_salts`` times and scatter the fact uniformly.

The salt is a deterministic hash of stable columns — NOT rand() — so retried
tasks and replayed micro-batches produce identical partitions (determinism
is part of this engine's exactly-once story).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def deterministic_salt(cols: list[str | Column], n_salts: int) -> Column:
    """Stable salt in [0, n_salts): hash of the given columns. Rows with the
    same full tuple land in the same salt bucket (keeps re-aggregation
    correct for idempotent replays)."""
    exprs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.pmod(F.hash(*exprs), F.lit(n_salts))


def _default_salt_cols(df: DataFrame, keys: list[str]) -> list[str]:
    """All non-key columns: the widest deterministic scatter available.
    Hashing only the metric columns (the old default) collapses a hot key
    whose metrics are low-cardinality — the classic all-zeros/single-price
    skew case — into one or two salt buckets, defeating the salting."""
    cols = [c for c in df.columns if c not in keys]
    if not cols:
        raise ValueError(
            "salted_groupby_agg: no non-key columns to salt on"
        )
    return cols


def salted_groupby_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    *,
    n_salts: int = 16,
    count_col: str | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation: groupBy(keys + salt) partial sums,
    then groupBy(keys) to merge the ≤``n_salts`` partials per key.

    Equivalent to a plain groupBy+sum for any input (tested property), but
    the first shuffle spreads a hot key over ``n_salts`` reducers.
    The salt hashes ALL non-key columns (not just ``sum_cols``): a hot key's
    metric values are often low-cardinality (constant price, zero quantity),
    and a salt hashed from them alone would collapse the hot key back into a
    couple of buckets. If every non-key column is constant within the hot
    key too, no content hash can spread it: a key whose rows are fully
    identical is a dedup problem, not a skew problem."""
    salted = df.withColumn("__salt", deterministic_salt(_default_salt_cols(df, keys), n_salts))
    partial_aggs = [F.sum(c).alias(f"__p_{c}") for c in sum_cols]
    if count_col:
        partial_aggs.append(F.count("*").alias("__p_cnt"))
    partial = salted.groupBy(*keys, "__salt").agg(*partial_aggs)
    final_aggs = [F.sum(f"__p_{c}").alias(f"sum_{c}") for c in sum_cols]
    if count_col:
        final_aggs.append(F.sum("__p_cnt").alias(count_col))
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    *,
    n_salts: int = 8,
) -> DataFrame:
    """Skewed fact ⨝ non-broadcastable dim, inner: the dim is replicated
    once per salt (explode over a literal range), the fact scatters
    deterministically on its non-key columns, and the join key becomes
    (key, salt) — a hot key now occupies ``n_salts`` partitions instead of
    one."""
    scatter = [c for c in fact.columns if c != key]
    f = fact.withColumn("__salt", deterministic_salt(scatter, n_salts))
    d = dim.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    return f.join(d, [key, "__salt"]).drop("__salt")
