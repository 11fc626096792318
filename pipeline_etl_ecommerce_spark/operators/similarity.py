"""Similarity search over embedding columns (``array<float>``).

Two paths:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Query set × corpus cross join; dot products via ``F.aggregate`` over
  zipped arrays (JVM-side, no Python). Use only with a bounded query set.
- ``embedding_near_dup_pairs`` and the IVF search (``operators/ivf.py``):
  the scale paths — candidates come from a bucket or inverted-list
  equi-join, then exact cosine re-ranks them. At 100 TB the cross join
  disappears; the shuffle key is the bucket.

Cosine is computed in double precision with a fixed left-to-right summation
(array order), so results are reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ranking import first_per_group, rank_per_group, top_k_per_group


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def embedding_norms(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    v = _dvec(F.col(vec_col))
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.size(F.col(vec_col)).alias("dim"),
        F.round(norm(v), 6).alias("l2_norm"),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self-matches).

    queries: same schema as corpus; keep it small (broadcast side)."""
    q = queries.select(F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qv"))
    c = corpus.select(F.col(id_col).alias("cand_id"), _dvec(F.col(vec_col)).alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    return _top_k_by_cos_sim(scored, k)


def _top_k_by_cos_sim(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best candidates by ``cos_sim`` (ties by id):
    ``(query_id, cand_id, cos_sim, rnk)``."""
    order = [F.col("cos_sim").desc(), F.col("cand_id")]
    ranked = rank_per_group(scored, "query_id", order, rank_col="rnk", k=k)
    return ranked.select("query_id", "cand_id", "cos_sim", "rnk")


def _margin_select(fwd: DataFrame, bwd: DataFrame, tau: float) -> DataFrame:
    """The margin algebra shared by the exact and the IVF-indexed miners:
    given forward (A→B) and backward (B→A) kNN tables
    ``(query_id, cand_id, cos_sim)``, compute per-side neighborhood
    averages, the Artetxe-Schwenk ratio margin, and each source's
    best-margin candidate at ``margin >= tau``. Joins only
    k-row-per-query tables — this stage is identical whichever kNN plan
    produced its inputs.

    ``ax`` (the source-side neighborhood average) is a window over the
    forward table's own query_id partition, NOT a groupBy + self-join:
    the self-join form evaluated the whole forward kNN leg twice (Spark
    only reuses identical exchanges, and the two consumers shuffle on
    different keys) — measured one full leg of wall saved at sf0.1. Same
    values: both forms average the identical 6dp-rounded cosine set."""
    ay = (
        bwd.groupBy("query_id")
        .agg(F.avg("cos_sim").alias("__ay"))
        .withColumnRenamed("query_id", "cand_id")
    )
    m = (
        fwd.withColumn("__ax", F.avg("cos_sim").over(Window.partitionBy("query_id")))
        .join(ay, "cand_id")
        .withColumn(
            "margin",
            F.round(2 * F.col("cos_sim") / (F.col("__ax") + F.col("__ay")), 6),
        )
    )
    return (
        first_per_group(m, "query_id", [F.col("margin").desc(), F.col("cand_id")])
        .filter(F.col("margin") >= tau)
        .select(
            F.col("query_id").alias("src_id"),
            F.col("cand_id").alias("tgt_id"),
            "cos_sim",
            "margin",
        )
    )


def margin_mined_pairs(
    side_a: DataFrame,
    side_b: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    tau: float = 1.1,
) -> DataFrame:
    """Margin-based bitext mining (r9) — the CCMatrix/LASER alignment rule
    (Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining"):
    absolute cosine is uncalibrated across embedding neighborhoods, so a
    pair (x ∈ A, y ∈ B) is scored by its margin over both local
    neighborhoods,

        margin(x, y) = 2·cos(x, y) / (avg_k cos(x, NN_B(x)) + avg_k cos(y, NN_A(y)))

    and x keeps its best-margin candidate when ``margin >= tau``. Returns
    one row per mined source: ``(src_id, tgt_id, cos_sim, margin)``.

    This is the EXACT form: forward/backward kNN via :func:`cosine_topk`
    (a broadcast cross join) — use it only when at least one side is
    bounded (an audit slice, a query batch). At corpus scale use
    :func:`margin_mined_pairs_indexed`, which swaps both kNN legs for the
    sublinear IVF lists; the margin algebra (:func:`_margin_select`) is
    shared verbatim. Cosines and margins round to 6dp (the decontamination
    convention) so the oracle's float algebra agrees.

    The two sides MUST occupy disjoint id spaces: the kNN legs inherit
    :func:`cosine_topk`'s self-match exclusion (``query_id != cand_id``),
    so a cross-side pair whose ids collide would be silently dropped from
    both the candidate set and the neighborhood averages, corrupting
    margins. (The indexed variant does not id-filter and is safe either
    way.)"""
    fwd = cosine_topk(side_b, side_a, vec_col=vec_col, id_col=id_col, k=k)
    bwd = cosine_topk(side_a, side_b, vec_col=vec_col, id_col=id_col, k=k)
    return _margin_select(fwd, bwd, tau)


def ivf_knn_normed(
    lists: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 3,
    k: int = 4,
) -> DataFrame:
    """kNN of EVERY query row against a prebuilt (spilled) IVF index —
    the batch leg bitext mining needs, where the query side is a whole
    corpus rather than a bounded sample.

    Differences from :func:`operators.ivf.ivf_search_pinned`, both priced
    for an all-queries batch:

    - norms are computed once per ROW (query and list vector) before the
      candidate join, so the per-pair work is a single dot product — the
      arithmetic (``dot / (norm_q * norm_c)``, 6dp round) is unchanged, so
      cross-engine parity holds;
    - no id-based self-match exclusion: queries and lists are SEPARATE
      tables (two-language mining); a query id colliding with a list id
      names a different entity and must stay a candidate.

    Scale shape: probes are a √n-row centroid broadcast per query; the
    candidate join is an equi-join on the list id touching
    ≈ spill·nprobe/k of the candidate corpus — with the √n quantizer
    (``ivf.sublinear_k``) that is O(n^(3/4)) rows per query, never a
    cross join. Output: ``(query_id, cand_id, cos_sim, rnk)``."""
    from .clustering import _sq_dist

    l_tab = lists.select(
        F.col("_vid").alias("cand_id"),
        F.col("_v").alias("cv"),
        F.col("cid").alias("cluster"),
    ).withColumn("cnorm", norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qv")
    ).withColumn("qnorm", norm(F.col("qv")))

    probe_scored = q.crossJoin(F.broadcast(centroids.select("cid", "cvec"))).select(
        "query_id", "qv", "qnorm", F.col("cid"), _sq_dist(F.col("qv"), F.col("cvec")).alias("d2")
    )
    probes = top_k_per_group(probe_scored, "query_id", ["d2", "cid"], nprobe).select(
        "query_id", "qv", "qnorm", F.col("cid").alias("cluster")
    )
    scored = (
        probes.join(l_tab, "cluster")
        .select(
            "query_id",
            "cand_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm")), 6
            ).alias("cos_sim"),
        )
        # spilled lists can surface a candidate from two probed lists; the
        # duplicate rows carry an identical rounded cos_sim, so this
        # collapses exactly (the ivf_search_pinned dedupe_candidates rule)
        .dropDuplicates(["query_id", "cand_id"])
    )
    return _top_k_by_cos_sim(scored, k)


def _ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    nprobe: int,
) -> DataFrame:
    """Each query's ``nprobe`` nearest centroid ids (pinned 6dp d2, cid
    tie-break), query vector carried: ``(query_id, qv, cluster)``."""
    from .clustering import _sq_dist

    q = queries.select(F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qv"))
    probe_scored = q.crossJoin(F.broadcast(centroids.select("cid", "cvec"))).select(
        "query_id", "qv", F.col("cid"), _sq_dist(F.col("qv"), F.col("cvec")).alias("d2")
    )
    return top_k_per_group(probe_scored, "query_id", ["d2", "cid"], nprobe).select(
        "query_id", "qv", F.col("cid").alias("cluster")
    )


def ivf_candidate_pairs(
    lists: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 3,
) -> DataFrame:
    """The probes × inverted-lists join WITHOUT scoring: one row per
    (query, probed list row) — the exact candidate workload of an indexed
    kNN leg. The scale-stress battery counts this frame at two data sizes
    to pin the miner's n^(7/4) candidate growth law with measured rows
    (the ivf probe-rows gate pattern)."""
    probes = _ivf_probes(
        queries, centroids, vec_col=vec_col, id_col=id_col, nprobe=nprobe
    ).select("query_id", "cluster")
    return probes.join(
        lists.select(F.col("_vid").alias("cand_id"), F.col("cid").alias("cluster")),
        "cluster",
    ).select("query_id", "cand_id")


def ivf_knn_arrow(
    lists: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 3,
    k: int = 4,
) -> DataFrame:
    """:func:`ivf_knn_normed` with the per-pair cosine stage vectorized as
    an Arrow cogrouped kernel — the production leg for all-queries batches.

    Why: the JVM higher-order fold (``aggregate(zip_with(...))``) is
    interpreted, not codegen'd — measured 3.1-3.7 s for the 381k-candidate
    leg at sf0.1 (and an unrolled codegen expression tree is 2.4× WORSE,
    re-confirming the ``clustering._sq_dist`` A/B). This kernel cogroups
    probes × inverted lists BY LIST ID, so each query/list vector crosses
    the Arrow boundary once per probed list (≈ MBs), never once per pair
    (≈ the 100× join output), and computes the dot-product block per list
    with 64 rank-1 numpy updates.

    BIT-IDENTICAL to the JVM fold by construction (pinned in
    tests/test_bitext.py): ``acc += Q[:,i] · C[:,i]`` accumulates every
    pair's dot left-to-right from 0.0 — the exact IEEE sequence of
    ``aggregate(zip_with(a, b, *), 0.0, +)`` — norms accumulate the same
    way, ``np.sqrt`` is correctly rounded like Java's, the divide is the
    single operation ``dot / (qn * cn)``, and the 6dp ROUND runs JVM-side
    on the returned raw cosine so the engine's pinned rounding (not
    numpy's scaled round-half-even) decides every boundary."""
    import numpy as np
    import pandas as pd

    probes = _ivf_probes(queries, centroids, vec_col=vec_col, id_col=id_col, nprobe=nprobe)
    l_tab = lists.select(
        F.col("_vid").alias("cand_id"), F.col("_v").alias("cv"), F.col("cid").alias("cluster")
    )

    def kern(qpdf: pd.DataFrame, lpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or lpdf.empty:
            return pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int64"),
                    "cand_id": pd.Series(dtype="int64"),
                    "cos_raw": pd.Series(dtype="float64"),
                }
            )
        qm = np.array(qpdf["qv"].tolist(), dtype=np.float64)
        cm = np.array(lpdf["cv"].tolist(), dtype=np.float64)
        dim = qm.shape[1]
        qn = np.zeros(len(qm))
        cn = np.zeros(len(cm))
        acc = np.zeros((len(qm), len(cm)))
        # sequential i-order accumulation = the fold's left-to-right IEEE
        # sum starting at 0.0, vectorized ACROSS pairs instead of within one
        for i in range(dim):
            qn += qm[:, i] * qm[:, i]
            cn += cm[:, i] * cm[:, i]
            acc += qm[:, i][:, None] * cm[:, i][None, :]
        cos = acc / (np.sqrt(qn)[:, None] * np.sqrt(cn)[None, :])
        nq, nc = len(qm), len(cm)
        return pd.DataFrame(
            {
                "query_id": np.repeat(qpdf["query_id"].to_numpy(), nc),
                "cand_id": np.tile(lpdf["cand_id"].to_numpy(), nq),
                "cos_raw": cos.reshape(-1),
            }
        )

    scored = (
        probes.groupBy("cluster")
        .cogroup(l_tab.groupBy("cluster"))
        .applyInPandas(kern, schema="query_id long, cand_id long, cos_raw double")
        .select("query_id", "cand_id", F.round(F.col("cos_raw"), 6).alias("cos_sim"))
    )
    # dedupe + top-k fused into ONE query_id shuffle: collect_set drops the
    # double-probed spilled-list duplicates (identical (cos, cand) structs by
    # construction — the ivf_search_pinned dedupe_candidates rule), sort_array
    # on (-cos, cand) is exactly (cos DESC, cand ASC), slice keeps k, and the
    # posexplode index is the row_number. The dropDuplicates-then-window form
    # cost a second full shuffle of the candidate table (~1 s/leg at sf0.1).
    return (
        scored.groupBy("query_id")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_set(
                        F.struct((-F.col("cos_sim")).alias("_nc"), F.col("cand_id"))
                    )
                ),
                1,
                k,
            ).alias("_tk")
        )
        .select("query_id", F.posexplode("_tk").alias("_pos", "_t"))
        .select(
            "query_id",
            F.col("_t.cand_id").alias("cand_id"),
            (-F.col("_t._nc")).alias("cos_sim"),
            (F.col("_pos") + 1).cast("int").alias("rnk"),
        )
    )


def margin_mined_pairs_indexed(
    side_a: DataFrame,
    side_b: DataFrame,
    lists_a: DataFrame,
    centroids_a: DataFrame,
    lists_b: DataFrame,
    centroids_b: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    tau: float = 1.1,
    nprobe_a: int = 3,
    nprobe_b: int = 3,
) -> DataFrame:
    """Margin-based bitext mining over two PREBUILT sublinear IVF indexes
    (r10 — the corpus-scale form the r9 exact row documented): each side
    trains its own √n quantizer with 2-way spilled lists
    (``ivf.build_search_index`` per side, persisted as marts), the
    forward/backward kNN legs are :func:`ivf_knn_normed` probes into the
    OTHER side's lists, and the margin algebra (:func:`_margin_select`)
    is shared verbatim with the exact miner — it only ever joins
    k-row-per-query tables and does not care which kNN plan fed it.

    Per mined batch the work is O(|A|·|B|^(3/4) + |B|·|A|^(3/4)) candidate
    dot products instead of the exact rule's O(|A|·|B|) — at 100× data the
    exact legs do 10,000× the work, these ~3,000× less than that. The
    neighborhoods are approximate; measure the effect with a recall row
    against :func:`cosine_topk` on a bounded query sample (the
    ivf_sublinear_recall_at3 pattern) rather than assuming it.

    Unlike the exact form, colliding ids across sides are safe: the
    indexed kNN legs never compare query ids to candidate ids.

    The kNN legs run through :func:`ivf_knn_arrow` (the vectorized
    cosine-block kernel, bit-identical to the JVM fold — see its
    docstring and tests/test_bitext.py's cross-implementation pin)."""
    fwd = ivf_knn_arrow(
        lists_b, centroids_b, side_a, vec_col=vec_col, id_col=id_col, nprobe=nprobe_b, k=k
    )
    bwd = ivf_knn_arrow(
        lists_a, centroids_a, side_b, vec_col=vec_col, id_col=id_col, nprobe=nprobe_a, k=k
    )
    return _margin_select(fwd, bwd, tau)


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH: one bit per plane (sign of the dot product),
    packed into a string key. Planes are plain Python floats baked into the
    plan as literals — deterministic and broadcast-free."""
    bits = []
    for p in planes:
        d = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(x) for x in p]), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    planes: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection at corpus scale: vectors
    sharing a hyperplane-LSH bucket are candidates (nearby vectors land on
    the same side of most planes), exact cosine filters at ``threshold``.
    All-pairs within buckets — quadratic only per bucket, like the MinHash
    band join."""
    # norm once per VECTOR in the signature stage, not once per PAIR in the
    # bucket join — the pair stage then does a single dot product + divide
    # (identical floating-point arithmetic, so oracle parity is preserved)
    sig = corpus.select(
        F.col(id_col).alias("vid"),
        _dvec(F.col(vec_col)).alias("v"),
        hyperplane_signature(_dvec(F.col(vec_col)), planes).alias("bucket"),
    ).withColumn("nv", norm(F.col("v")))
    a = sig.select(F.col("bucket"), F.col("vid").alias("vec_a"), F.col("v").alias("va"), F.col("nv").alias("na"))
    b = sig.select(F.col("bucket"), F.col("vid").alias("vec_b"), F.col("v").alias("vb"), F.col("nv").alias("nb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def random_projection(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    *,
    round_to: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto ``planes`` (one output component per plane, the same
    pinned-literal matrix recipe as ``hyperplane_signature`` — the LSH
    signature is exactly the SIGN of this projection). Emits one
    ``p{i}`` column per plane, rounded for cross-engine determinism.

    Scale shape: pure map-side codegen (literal matrix baked into the
    plan, no broadcast, no shuffle) — reduces a 100 TB embedding table to
    k columns in a single scan, which is what makes downstream clustering
    / ANN cheap enough to iterate on.
    """
    v = _dvec(F.col(vec_col))
    outs = [
        F.round(
            F.aggregate(
                F.zip_with(v, F.array(*[F.lit(x) for x in p]), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, w: acc + w,
            ),
            round_to,
        ).alias(f"p{i}")
        for i, p in enumerate(planes)
    ]
    return df.select(F.col(id_col).alias("vec_id"), *outs)
