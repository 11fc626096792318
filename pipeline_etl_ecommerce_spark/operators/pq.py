"""Product quantization (PQ) for embedding search — the memory layer of
the canonical IVF-PQ layout (Jégou et al. 2011, "Product Quantization
for Nearest Neighbor Search"): split each vector into M subvectors,
learn a small k-means codebook per subspace, store each vector as M
one-byte codes, and answer queries with Asymmetric Distance Computation
(ADC) — the query stays a float vector, every database vector is looked
up through per-subspace distance tables.

Why this matters at 100 TB: the embedding corpus stops being the thing
you scan. The codes mart is ``M`` small ints per vector (64-dim float →
2 bytes at M=2, a 128x reduction), the codebooks are ``M × k`` tiny rows
that BROADCAST, and the ADC distance table per query is ``M × k``
precomputed floats — so a full-scan re-rank over codes is a broadcast
join + sum, and composing with the IVF coarse quantizer
(``operators/ivf.py``) restricts even that to the probed inverted lists.

Everything reuses the pinned Lloyd's machinery from
``operators/clustering.py`` (deterministic init, 6dp-rounded argmin with
cid tie-break, DECIMAL means), so training, encoding, and ADC ranking
are all replayable in a SQL oracle — the same discipline that made
kmeans/SemDeDup/IVF value-checkable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import _assign, centroids_table
from .ranking import rank_per_group
from .similarity import _dvec


def _subvec(vec_col: str, sub: int, sub_dim: int):
    # 1-based slice; subspace `sub` covers dims [sub*sub_dim, (sub+1)*sub_dim)
    return F.slice(F.col(vec_col), sub * sub_dim + 1, sub_dim)


def pq_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Train one deterministic k-means codebook per subspace:
    ``(sub, cid, cvec)`` with ``m * k`` rows total — the artifact a
    pipeline persists as a mart next to the codes. ``dim`` defaults to
    the first row's vector length (pass it explicitly on a real cluster
    to avoid the one-row peek)."""
    if dim is None:
        dim = len(df.select(F.col(vec_col)).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    books = [
        centroids_table(
            df.select(F.col(id_col), _subvec(vec_col, s, sub_dim).alias("_sv")),
            "_sv",
            id_col,
            k=k,
            iters=iters,
        ).select(F.lit(s).cast("int").alias("sub"), "cid", "cvec")
        for s in range(m)
    ]
    return reduce(DataFrame.unionByName, books)


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    m: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Quantize every vector: ``(vec_id, sub, code)`` — one row per
    subspace, the narrow codes mart that replaces the float corpus in
    the search path. Same pinned argmin as training, so a vector encodes
    identically whether it arrived in the training batch or a delta."""
    if dim is None:
        dim = len(df.select(F.col(vec_col)).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    parts = []
    for s in range(m):
        v = df.select(
            F.col(id_col).alias("_vid"),
            _dvec(_subvec(vec_col, s, sub_dim)).alias("_v"),
        )
        book = codebooks.filter(F.col("sub") == s).select("cid", "cvec")
        parts.append(
            _assign(v, book).select(
                F.col("_vid").alias("vec_id"),
                F.lit(s).cast("int").alias("sub"),
                F.col("cid").cast("int").alias("code"),
            )
        )
    return reduce(DataFrame.unionByName, parts)


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    m: int = 2,
    k: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """ADC search: per query, the approximate squared L2 to every coded
    vector is the SUM over subspaces of the precomputed
    query-subvector→centroid distance — the codes never decompress.
    Output: ``(query_id, cand_id, adc_dist, rnk)``, top ``k`` per query
    (ties to the lower cand id), self-matches excluded.

    Plan shape: the distance table (n_queries × m × k rows) broadcasts
    onto the codes mart; the per-candidate reduce is a map-side-combined
    groupBy; ranking is a bounded per-query window. Nothing touches the
    original float corpus."""
    if dim is None:
        dim = len(queries.select(F.col(vec_col)).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    # distance table: for every (query, sub, cid): 6dp-rounded sq dist —
    # the same rounding contract as clustering._sq_dist
    qsubs = [
        queries.select(
            F.col(id_col).alias("query_id"),
            F.lit(s).cast("int").alias("sub"),
            _dvec(_subvec(vec_col, s, sub_dim)).alias("_q"),
        )
        for s in range(m)
    ]
    qflat = reduce(DataFrame.unionByName, qsubs)
    dtable = qflat.join(F.broadcast(codebooks), "sub").select(
        "query_id",
        "sub",
        F.col("cid").alias("code"),
        F.round(
            F.aggregate(
                F.zip_with(F.col("_q"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("sub_dist"),
    )
    scored = (
        codes.join(F.broadcast(dtable), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.round(F.sum("sub_dist"), 6).alias("adc_dist"))
    )
    order = [F.col("adc_dist").asc(), F.col("cand_id").asc()]
    return rank_per_group(scored, "query_id", order, rank_col="rnk", k=k)
