"""IVF (inverted-file) approximate nearest neighbor — the scale path for
similarity search when hyperplane-LSH recall isn't enough.

Classic two-stage design:
1. coarse quantizer: k centroids (``clustering.centroids_table``); every
   corpus vector is assigned to its nearest centroid, or to its ``spill``
   nearest (:func:`spilled_assignment`);
2. search: a query probes its ``nprobe`` nearest centroids and brute-forces
   only those inverted lists — the cross join shrinks by ~k/nprobe
   (:func:`ivf_search_pinned`, :func:`ivfadc_topk`).

The quantizer is the PINNED Lloyd's k-means of ``operators.clustering``
(lowest-id init, 6dp-rounded argmin with cid tie-break), so every decision
— centroids, list membership, probe ranking, final top-k — is replayable in
ANSI SQL and hash-checkable against a DuckDB oracle. No RNG, no Date.now.

At 100 TB: centroids are a broadcast table; assignment is a map stage;
inverted lists are the partitioning key, so a probe touches nprobe/k of the
data. Re-clustering is an offline job, not a per-query cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ranking import rank_per_group, top_k_per_group
from .similarity import _dvec, _ivf_probes, _top_k_by_cos_sim, dot, norm


def adaptive_nprobe(k_clusters: int) -> int:
    """Probe count that keeps the probed FRACTION of the corpus constant as
    the coarse quantizer's k scales: ``max(3, ceil(k * 3/8))``.

    Why: the quantizer shared with SemDeDup scales k ∝ n (constant cluster
    size — the pair-budget contract), so a FIXED nprobe probes a shrinking
    fraction and tail recall degrades with data size (measured: worst
    query recall@3 fell 0.67 → 0.33 from sf0.01's 3/8 probed to sf0.1's
    3/32). Constant fraction restores recall at linear probe cost — the
    bounded-fraction scan an exact re-rank needs anyway. For a sublinear
    index at 100 TB, the DEDICATED k ≈ sqrt(n) quantizer
    (:func:`sublinear_k`) with spilled lists and nprobe ≈ sqrt(k) is the
    DEFAULT search-only path since r7; this constant-fraction helper
    remains for searches that piggyback on the dedup-shared quantizer.
    3-of-8 is the family's pinned fraction. The ceil is
    exact cross-engine: k * 3/8 multiplies an exact int by a power-of-two
    dyadic, so the double is exact and CEIL is deterministic."""
    import math

    if k_clusters <= 0:
        raise ValueError("k_clusters must be positive")
    return max(3, math.ceil(k_clusters * 3 / 8))


def sublinear_k(n_vectors: int) -> int:
    """Cluster count for the DEDICATED search-only quantizer:
    ``max(8, ceil(sqrt(n)))``. With k ≈ √n each inverted list holds ≈ √n
    vectors, so a fixed-nprobe probe reads O(√n) rows — the sublinear index
    the dedup-shared quantizer (constant cluster SIZE ⇒ linear probe cost)
    deliberately is not. Exact cross-engine: IEEE sqrt is correctly rounded
    on both engines, CEIL deterministic (``GREATEST(8, CEIL(SQRT(COUNT(*))))``
    replays it)."""
    if n_vectors < 0:
        raise ValueError("n_vectors must be non-negative")
    import math

    return max(8, math.ceil(math.sqrt(n_vectors)))


def sublinear_nprobe(k_clusters: int) -> int:
    """Probe count for the search-only quantizer: ``max(3, ceil(sqrt(k)))``.
    Probed fraction = √k/k → 0 as the corpus grows; with 2-way spilled lists
    (see :func:`spilled_assignment`) expected candidates ≈ 2·n^(3/4) —
    sublinear in n, vs the dedup-shared quantizer's constant 3/8 fraction."""
    if k_clusters <= 0:
        raise ValueError("k_clusters must be positive")
    import math

    return max(3, math.ceil(math.sqrt(k_clusters)))


def spilled_assignment(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    spill: int = 2,
) -> DataFrame:
    """Multi-assignment inverted lists: every corpus vector lands in its
    ``spill`` nearest lists (6dp-rounded distance, cid tie-break — the
    family's pinned argmin, extended from rn=1 to rn≤spill). Border vectors
    live in each adjacent list, which is what lets a √k probe keep recall
    that a single-assignment index loses (measured at sf0.1/k=45: worst
    query recall@3 0.67 single vs 1.0 spilled, same nprobe=7). Storage and
    probe cost scale by ×spill — still O(n^(3/4)) per query at spill=2.
    Output: ``(_vid, _v, cid)`` — one row per (vector, list)."""
    if spill < 1:
        raise ValueError("spill must be at least 1")
    from .clustering import _sq_dist

    v = corpus.select(F.col(id_col).alias("_vid"), _dvec(F.col(vec_col)).alias("_v"))
    scored = v.crossJoin(F.broadcast(centroids.select("cid", "cvec"))).select(
        "_vid", "_v", "cid", _sq_dist(F.col("_v"), F.col("cvec")).alias("d2")
    )
    return top_k_per_group(scored, "_vid", ["d2", "cid"], spill).select("_vid", "_v", "cid")


def ivfadc_topk(
    lists: DataFrame,
    centroids: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    *,
    m: int = 2,
    nprobe: int = 3,
    k: int = 3,
    refine: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011, the canonical billion-scale layout):
    coarse-probe the inverted lists for CANDIDATE ids, then rank them by
    PQ Asymmetric Distance over the 2-byte codes mart — the float corpus
    appears in NEITHER stage. Composes the two persisted marts this
    module family already maintains: the (spilled) sublinear search lists
    (:func:`spilled_assignment` over a :func:`sublinear_k` quantizer) and the PQ codes/codebooks
    (``operators/pq.py``). ``queries`` carries ``(vec_id, embedding)``.

    ``refine > 0`` adds the IVFADC+R stage (Jégou et al. 2011 §V): the
    ADC top-``refine`` shortlist per query is re-ranked by EXACT squared
    L2 against the stored list vectors — ``refine`` point lookups per
    query, which restores the recall a small codebook loses while keeping
    the scan compressed (measured here: m=2/k=8 codebooks alone rank
    recall@3 ≈ 0.1-0.3 — 64 cells cannot order 600 candidates — the
    refined path is the production configuration). Output then carries
    exact ``d2`` instead of ``adc_dist``.

    Scale shape, in join order: probes × lists bounds candidates to
    ~spill·nprobe/k_clusters of the corpus; candidates ⋈ codes is keyed on
    the vector id; the per-(query, sub, code) distance table broadcasts;
    the reduce is a map-side-combined groupBy; the refine leg touches
    ``refine`` full vectors per query. Total search cost ∝ probed
    candidates × m + refine — memory- AND compute-sublinear.
    Output: ``(query_id, cand_id, adc_dist | d2, rnk)``."""
    from .clustering import _sq_dist
    from .pq import _subvec

    if dim is None:
        dim = len(queries.select("embedding").first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m

    q = queries.select(F.col("vec_id").alias("query_id"), _dvec(F.col("embedding")).alias("qv"))
    probe_scored = q.crossJoin(F.broadcast(centroids.select("cid", "cvec"))).select(
        "query_id", F.col("cid"), _sq_dist(F.col("qv"), F.col("cvec")).alias("d2")
    )
    probes = top_k_per_group(probe_scored, "query_id", ["d2", "cid"], nprobe).select(
        "query_id", F.col("cid").alias("cluster")
    )
    cands = (
        probes.join(
            lists.select(F.col("_vid").alias("cand_id"), F.col("cid").alias("cluster")),
            "cluster",
        )
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()  # spilled lists surface border vectors twice
    )

    # per-(query, sub, code) ADC table — broadcast-sized: n_queries × m × k
    from functools import reduce as _reduce

    qsubs = _reduce(
        DataFrame.unionByName,
        [
            queries.select(
                F.col("vec_id").alias("query_id"),
                F.lit(s).cast("int").alias("sub"),
                _dvec(_subvec("embedding", s, sub_dim)).alias("_q"),
            )
            for s in range(m)
        ],
    )
    dtable = qsubs.join(F.broadcast(codebooks), "sub").select(
        "query_id",
        "sub",
        F.col("cid").alias("code"),
        _sq_dist(F.col("_q"), F.col("cvec")).alias("sub_dist"),
    )
    scored = (
        cands.join(codes, cands["cand_id"] == codes["vec_id"])
        .select("query_id", "cand_id", "sub", "code")
        .join(F.broadcast(dtable), ["query_id", "sub", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.round(F.sum("sub_dist"), 6).alias("adc_dist"))
    )
    by_adc = [F.col("adc_dist").asc(), F.col("cand_id").asc()]
    if refine <= 0:
        return rank_per_group(scored, "query_id", by_adc, rank_col="rnk", k=k)
    shortlist = top_k_per_group(scored, "query_id", by_adc, refine).select("query_id", "cand_id")
    vecs = lists.select(
        F.col("_vid").alias("cand_id"), F.col("_v").alias("cv")
    ).dropDuplicates(["cand_id"])  # spilled lists carry each vector twice
    exact = (
        shortlist.join(vecs, "cand_id")
        .join(q, "query_id")
        .select("query_id", "cand_id", _sq_dist(F.col("qv"), F.col("cv")).alias("d2"))
    )
    by_d2 = [F.col("d2").asc(), F.col("cand_id").asc()]
    return rank_per_group(exact, "query_id", by_d2, rank_col="rnk", k=k)


def ivf_search_pinned(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    nprobe: int = 3,
    k: int = 3,
    dedupe_candidates: bool = False,
) -> DataFrame:
    """Pinned IVF search over a PRECOMPUTED ``(_vid, _v, cid, ...)``
    assignment and ``(cid, cvec)`` centroid table, for ``(vec_id, embedding)``
    queries —
    the persisted-mart path: train once per corpus version
    (``clustering.centroids_table``), search any number of query batches
    without re-running Lloyd's per query. ``dedupe_candidates=True`` is
    REQUIRED when the lists are spilled (:func:`spilled_assignment`): a
    candidate probed via two of its lists would otherwise occupy two of the
    top-k slots (identical cos_sim rows) and silently evict a real
    neighbor. Single-assignment lists skip the extra shuffle."""
    lists = assigned.select(
        F.col("_vid").alias("cand_id"), F.col("_v").alias("cv"), F.col("cid").alias("cluster")
    )
    probes = _ivf_probes(queries, centroids, vec_col="embedding", id_col="vec_id", nprobe=nprobe)
    scored = (
        probes.join(lists, "cluster")  # inverted-list join replaces the cross join
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (norm(F.col("qv")) * norm(F.col("cv"))), 6
            ).alias("cos_sim"),
        )
    )
    if dedupe_candidates:
        # duplicate (query, cand) rows carry an identical rounded cos_sim
        # (same inputs, same expression), so dropDuplicates collapses exactly
        scored = scored.dropDuplicates(["query_id", "cand_id"])
    return _top_k_by_cos_sim(scored, k)
