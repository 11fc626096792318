"""Deterministic k-means clustering over embedding columns, and
SemDeDup-style semantic deduplication built on top of it.

Why hand-rolled Lloyd's instead of MLlib: the pipeline needs a clustering
whose every arithmetic step is reproducible in a SQL oracle (and across
engines/cluster layouts), so initialization, assignment tie-breaks, and
centroid updates are all pinned:

- init: the k vectors with the smallest ids, cluster ids 0..k-1 in id order
  (no RNG — seeded sampling would be partition-dependent);
- assignment: argmin of squared L2 distance ROUNDED to 6dp, ties broken by
  cluster id — rounding absorbs sub-1e-6 summation-order ulps between
  engines so the argmin is identical everywhere;
- update: per-dimension mean computed as DECIMAL(38,12) sum (exact,
  order-independent) divided in double and rounded to 9dp; empty clusters
  keep their previous centroid.

Scale shape (standard distributed Lloyd's): centroids are k tiny rows
broadcast against the corpus — the assignment is a broadcast nested-loop
over k candidates folded into one aggregation per vector (no window, no
per-vector shuffle beyond the groupBy); the update is posexplode →
groupBy(cluster, dim) with map-side partial aggregation. Iterations extend
the lineage; for many iterations persist the assignment between rounds.

SemDeDup (Abbas et al. 2023): cluster, then compare vectors only WITHIN a
cluster — the cross join that is quadratic over the corpus becomes
quadratic per cluster, which is the entire point at 100 TB. Pairs above
the cosine threshold collapse to their minimum id (one-step
canonicalization, same contract as the MinHash family).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .importance import _widen
from .similarity import _dvec, dot

# SemDeDup's pair stage is quadratic WITHIN a cluster, so expected cluster
# size — not cluster count — is the scale knob: with k fixed, clusters grow
# with the corpus and the pair budget explodes (measured: k=8 at a 10×
# corpus ran 41.96×; k scaled to the same corpus ran 7.7s vs 60s). The
# default therefore derives k from the corpus size so E[cluster size] stays
# constant; SemDeDup (Abbas et al. 2023) uses tens of thousands of clusters
# at web scale for exactly this reason.
DEFAULT_TARGET_CLUSTER_SIZE = 64


def adaptive_k(n_vectors: int, *, target_cluster_size: int = DEFAULT_TARGET_CLUSTER_SIZE) -> int:
    """Cluster count that keeps expected cluster size constant as the
    corpus grows: ``max(8, ceil(n / target_cluster_size))``. Pure integer
    arithmetic so the SQL oracle reproduces it exactly
    (``GREATEST(8, CEIL(COUNT(*) / target))``)."""
    if n_vectors < 0:
        raise ValueError("n_vectors must be non-negative")
    if target_cluster_size <= 0:
        raise ValueError("target_cluster_size must be positive")
    return max(8, math.ceil(n_vectors / target_cluster_size))


def _resolve_k(df: DataFrame, k: int | None) -> int:
    """``k=None`` → adaptive default. The ``count()`` is a train-time
    action (one columnless scan), the same bounded driver-side cost class
    as IVF's offline centroid training — never on a per-query path."""
    return adaptive_k(df.count()) if k is None else k


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 with fixed left-to-right summation, rounded to 6dp (the
    cross-engine argmin contract). Measured note: an unrolled 64-term
    expression tree (same IEEE order, codegen-able) was A/B-tested against
    this higher-order fold at the 10× stress scale and LOST on warm runs
    (1.7s vs 1.0s per assignment) while bloating analysis time — the fold
    stays."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def _init_centroids(v: DataFrame, k: int) -> DataFrame:
    """(cid, cvec): the k smallest-id vectors, cid dense 0..k-1 in id order."""
    first_k = v.orderBy("_vid").limit(k)
    # k rows: a single-partition window is fine and deterministic
    from pyspark.sql.window import Window

    w = Window.orderBy("_vid")
    return first_k.select(
        (F.row_number().over(w) - 1).cast("int").alias("cid"), F.col("_v").alias("cvec")
    )


def _assign(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, vec, cid, dist2): nearest centroid per vector, ties to the
    lowest cid. One broadcast cross join + one groupBy (min over a
    (dist2, cid) struct — no window over the full corpus).

    The input is widened to the cluster's parallelism first: the crossjoin
    multiplies per-row cost by k, so a corpus that fits one parquet split
    (split sizing is BYTE-based) would otherwise run the whole O(n·k)
    distance evaluation on one core — the same measured 1-split cliff as
    DSIR's tokenizer (importance._widen; stress: kmeans mart build 58.8s
    1-split vs ~13s widened at the 10× corpus)."""
    v = _widen(v)
    scored = v.crossJoin(F.broadcast(centroids)).select(
        "_vid", "_v",
        F.struct(
            _sq_dist(F.col("_v"), F.col("cvec")).alias("d2"), F.col("cid")
        ).alias("dc"),
    )
    best = scored.groupBy("_vid").agg(F.min("dc").alias("best"), F.first("_v").alias("_v"))
    return best.select(
        "_vid", "_v", F.col("best.cid").alias("cid"), F.col("best.d2").alias("dist2")
    )


def _update(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """Recompute centroids as per-dimension means; clusters that lost all
    members keep their previous centroid."""
    dims = assigned.select("cid", F.posexplode("_v").alias("pos", "x"))
    means = (
        dims.groupBy("cid", "pos")
        .agg(
            (F.sum(F.col("x").cast("decimal(38,12)")).cast("double") / F.count("*")).alias("raw")
        )
        .select("cid", "pos", F.round(F.col("raw"), 9).alias("m"))
    )
    new_vecs = (
        means.groupBy("cid")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cid", F.transform("pm", lambda s: s["m"]).alias("nvec"))
    )
    return (
        centroids.join(new_vecs, "cid", "left")
        .select("cid", F.coalesce("nvec", "cvec").alias("cvec"))
    )


def semantic_dedup_verdict(assigned: DataFrame, *, threshold: float = 0.9) -> DataFrame:
    """SemDeDup's verdict stage over a PRECOMPUTED assignment frame
    ``(_vid, _v, cid, ...)`` (the output shape of ``_assign``): within-cluster
    cosine pairs, then keep = no smaller-id neighbor above the threshold.
    Taking the assignment as input lets a persisted assignment mart feed
    kmeans/SemDeDup/IVF without re-running Lloyd's per query."""
    sides = assigned.select("cid", "_vid", "_v", F.sqrt(dot(F.col("_v"), F.col("_v"))).alias("_n"))
    a = sides.select("cid", F.col("_vid").alias("vec_a"), F.col("_v").alias("va"), F.col("_n").alias("na"))
    b = sides.select("cid", F.col("_vid").alias("vec_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb"))
    dup_pairs = (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    shadowed = dup_pairs.select(F.col("vec_b").alias("_vid")).distinct()
    return (
        assigned.join(shadowed.withColumn("_dup", F.lit(True)), "_vid", "left")
        .select(
            F.col("_vid").alias("vec_id"),
            F.col("cid").cast("int").alias("cluster_id"),
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"),
        )
    )


def centroids_table(
    df: DataFrame, vec_col: str, id_col: str, *, k: int | None = None, iters: int = 2
) -> DataFrame:
    """Run Lloyd's and return the CENTROIDS ``(cid, cvec)`` instead of the
    assignment — the artifact a pipeline persists as a mart (same contract
    as the MinHash signature mart: train once per corpus version).
    ``k=None`` → :func:`adaptive_k` of the training corpus size."""
    k = _resolve_k(df, k)
    if k <= 0 or iters <= 0:
        raise ValueError("k and iters must be positive")
    v = df.select(F.col(id_col).alias("_vid"), _dvec(F.col(vec_col)).alias("_v"))
    centroids = _init_centroids(v, k)
    for _ in range(iters - 1):
        centroids = _update(_assign(v, centroids), centroids)
    return centroids.select("cid", "cvec")


