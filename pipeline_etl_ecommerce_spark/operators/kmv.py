"""KMV (k-minimum-values) distinct sketches with SET-OPERATION estimates.

The sketch tier the HLL mart cannot cover: HLL union-merges, and the bitmap
tier is exact-but-dense, but neither estimates an INTERSECTION between two
persisted sketches ("how many users both clicked and purchased?") without
rescanning facts. KMV (Bar-Yossef et al. 2002; the Theta-sketch family's
ancestor) keeps the k smallest hash values of a set; then

- ``|S| ≈ (k-1) / h_(k)`` with hashes scaled to [0,1) (here: 32-bit ints,
  so ``(k-1) * 2^32 / h_k``);
- sketches MERGE by "union then keep k smallest" (associative, mergeable —
  a mart column like the HLL tier);
- Jaccard falls out of the merged sketch: the fraction of its values
  present in BOTH input sketches, giving ``|A∩B| ≈ ρ · |A∪B|``.

Everything is deterministic and engine-exact: the hash is the first 8 hex
chars of md5 (the repo's identity-hash convention) parsed as a 32-bit int,
order statistics are exact, and the estimate arithmetic is a fixed IEEE
expression over exact integers — so a DuckDB oracle replays the ESTIMATES
bit-for-bit (plus tolerance bands against exact counts for the audit).

Scale shape: one distinct-shuffle on (group, hash) + one window pass on the
same partitioning — the same cost class as count_distinct, but the output
is a tiny persistable array per group. At 100 TB the refinement is a
bounded-heap partial aggregate (DataSketches theta UDAF); the window form
here never holds more than a partition in memory either way. Relative
error ≈ 1/sqrt(k-2) (~13% at k=64) on the union; intersection error scales
with union/k, so small overlaps of huge sets need a larger k.

Collision caveat: 32-bit hashes collide at ~n²/2³³, which perturbs counts
of multi-billion-row sets; widen to 12 hex chars (48 bits) before that
regime. 32 bits keeps the parse inside exact-int64 on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ranking import top_k_per_group

__all__ = ["kmv_estimate", "kmv_pair_estimates", "kmv_sketch"]

_SCALE = 4294967296.0  # 2^32 — the hash domain size as an exact double


def _h32(value_col: Column) -> Column:
    # first 8 md5 hex chars as a 32-bit int; NULL inputs drop (both engines
    # order NULL differently in window sorts, so they must never reach one)
    return F.conv(F.substring(F.md5(value_col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )


def kmv_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, *, k: int = 64
) -> DataFrame:
    """Per-group KMV sketch of ``value_col``: ``(group_cols..., kmv)`` where
    ``kmv`` is the ASCENDING array of the k smallest distinct 32-bit hashes
    (fewer than k ⇒ the group's whole distinct hash set — the exact
    regime). One distinct + one window pass, both on the group key."""
    if k < 2:
        raise ValueError("k must be at least 2")
    d = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, _h32(F.col(value_col)).alias("__h"))
        .distinct()
    )
    return (
        top_k_per_group(d, group_cols, ["__h"], k)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("__h")).alias("kmv"))
    )


def kmv_estimate(kmv_col: Column, *, k: int) -> Column:
    """Distinct-count estimate from a sketch array: exact size below k,
    ``(k-1) * 2^32 / h_k`` at k. The expression is a fixed IEEE tree over
    exact integers, so it is bit-identical across engines.

    ``k`` is REQUIRED and must equal the k the sketch was built with: a
    mismatch (e.g. estimating a k=256 sketch as k=64) would silently read
    ``element_at(kmv, 64)`` and return a badly wrong estimate — better to
    fail at call time than to emit a plausible-looking number."""
    return F.when(
        F.size(kmv_col) >= k,
        F.lit(float(k - 1))
        * F.lit(_SCALE)
        / F.element_at(kmv_col, k).cast("double"),
    ).otherwise(F.size(kmv_col).cast("double"))


def kmv_pair_estimates(a: Column, b: Column, *, k: int) -> Column:
    """Union/intersection estimates for two sketches, as a struct
    ``(est_union double, est_intersection double)``. ``k`` is REQUIRED and
    must match the build-time k of BOTH sketches (see kmv_estimate).

    merged = k smallest of A ∪ B (itself a valid KMV sketch of the union);
    ρ = fraction of merged values present in BOTH inputs;
    ``|A∩B| ≈ ρ · |A∪B|``. When merged holds fewer than k values it IS the
    exact union hash set, and both estimates collapse to exact counts."""
    merged = F.slice(F.array_sort(F.array_union(a, b)), 1, k)
    est_union = kmv_estimate(merged, k=k)
    shared = F.size(
        F.filter(merged, lambda x: F.array_contains(a, x) & F.array_contains(b, x))
    )
    est_inter = F.when(
        F.size(merged) >= k,
        shared.cast("double") / F.lit(float(k)) * est_union,
    ).otherwise(shared.cast("double"))
    return F.struct(
        est_union.alias("est_union"), est_inter.alias("est_intersection")
    )
