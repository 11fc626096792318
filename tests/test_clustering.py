"""Deterministic k-means + SemDeDup: blob separation, layout independence,
duplicate shadowing, and parameter validation. The k-means under test is
the train/assign split the catalog runs: ``centroids_table`` trains,
``_assign`` assigns against the trained centroids."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.operators.clustering import (
    _assign,
    centroids_table,
    semantic_dedup_verdict,
)
from pipeline_etl_ecommerce_spark.operators.similarity import _dvec


def _vectors(df):
    return df.select(F.col("vec_id").alias("_vid"), _dvec(F.col("embedding")).alias("_v"))


def _kmeans(df, *, k=None, iters=2):
    """(vec_id, cluster_id, dist2): Lloyd's trained on ``df``, then every
    vector of ``df`` assigned to the trained centroids."""
    cents = centroids_table(df, "embedding", "vec_id", k=k, iters=iters)
    return _assign(_vectors(df), cents).select(
        F.col("_vid").alias("vec_id"), F.col("cid").cast("int").alias("cluster_id"), "dist2"
    )


@pytest.fixture(scope="module")
def blobs(spark):
    # two tight, well-separated 2-D blobs; ids interleave the blobs so the
    # smallest-id init picks one seed from each
    rows = []
    for i in range(20):
        if i % 2 == 0:
            rows.append((i, [0.0 + (i % 5) * 0.01, 0.0 + (i % 3) * 0.01]))
        else:
            rows.append((i, [10.0 + (i % 5) * 0.01, 10.0 + (i % 3) * 0.01]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_separates_blobs(blobs):
    out = _kmeans(blobs, k=2, iters=3).collect()
    by_parity = {0: set(), 1: set()}
    for r in out:
        by_parity[r["vec_id"] % 2].add(r["cluster_id"])
    # each blob lands wholly in one cluster, and they differ
    assert len(by_parity[0]) == 1 and len(by_parity[1]) == 1
    assert by_parity[0] != by_parity[1]
    # converged: every even-id point is near its centroid
    assert all(r["dist2"] < 1.0 for r in out)


def test_kmeans_is_layout_independent(blobs):
    a = sorted(map(tuple, _kmeans(blobs, k=2, iters=2).collect()))
    b = sorted(map(tuple, _kmeans(blobs.repartition(7), k=2, iters=2).collect()))
    assert a == b


def test_kmeans_rejects_bad_params(blobs):
    with pytest.raises(ValueError):
        centroids_table(blobs, "embedding", "vec_id", k=0)
    with pytest.raises(ValueError):
        centroids_table(blobs, "embedding", "vec_id", iters=0)


def test_adaptive_k_formula():
    # k = max(8, ceil(n / target)): constant E[cluster size] as data grows —
    # the fix for the measured 42x SemDeDup cliff at a 10x corpus.
    from pipeline_etl_ecommerce_spark.operators.clustering import adaptive_k

    assert adaptive_k(0) == 8
    assert adaptive_k(500) == 8          # sf0.01 embeddings -> unchanged k
    assert adaptive_k(513) == 9          # ceil, not floor
    assert adaptive_k(2000) == 32        # sf0.1
    assert adaptive_k(20000) == 313      # the 10x stress corpus
    assert adaptive_k(100, target_cluster_size=10) == 10
    with pytest.raises(ValueError):
        adaptive_k(-1)
    with pytest.raises(ValueError):
        adaptive_k(10, target_cluster_size=0)


def test_kmeans_default_k_is_adaptive(blobs):
    # k=None on a 20-vector corpus resolves to max(8, ceil(20/64)) = 8;
    # the run must be identical to an explicit k=8.
    auto = sorted(map(tuple, _kmeans(blobs, iters=2).collect()))
    explicit = sorted(map(tuple, _kmeans(blobs, k=8, iters=2).collect()))
    assert auto == explicit


def test_semantic_dedup_shadows_exact_duplicates(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),  # exact dup of 0 -> shadowed by 0
        (2, [2.0, 0.0, 0.0]),  # colinear with 0 (cos=1) -> shadowed
        (3, [0.0, 1.0, 0.0]),  # orthogonal -> kept
        (4, [-5.0, -5.0, -5.0]),  # far away -> own cluster, kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = centroids_table(df, "embedding", "vec_id", k=2, iters=2)
    verdict = semantic_dedup_verdict(_assign(_vectors(df), cents), threshold=0.99)
    out = {r["vec_id"]: r["kept"] for r in verdict.collect()}
    assert len(out) == 5  # every input vector gets a verdict
    assert out[0] is True  # smallest id of the dup group survives
    assert out[1] is False and out[2] is False
    assert out[3] is True and out[4] is True


def test_delta_assignment_matches_training(blobs, spark):
    cents = centroids_table(blobs, "embedding", "vec_id", k=2, iters=3)
    trained = {r["_vid"]: r["cid"] for r in _assign(_vectors(blobs), cents).collect()}
    # a later delta of already-seen vectors, assigned against the persisted
    # centroids, gets the clusters training gave them (same pinned argmin)
    delta = {r["_vid"]: r["cid"] for r in _assign(_vectors(blobs.filter("vec_id >= 12")), cents).collect()}
    assert delta == {i: c for i, c in trained.items() if i >= 12}
    # genuinely new vectors land in the right blob without retraining
    new = spark.createDataFrame(
        [(100, [0.02, 0.01]), (101, [10.03, 10.02])], "vec_id long, embedding array<double>"
    )
    out = {r["_vid"]: r["cid"] for r in _assign(_vectors(new), cents).collect()}
    assert out[100] == trained[0] and out[101] == trained[1]


@pytest.fixture(scope="module")
def quad_blobs(spark):
    # 4-dim vectors whose two 2-dim HALVES each form two separated blobs —
    # the product structure PQ exploits: 2x2 = 4 joint regions from two
    # k=2 codebooks
    rows = []
    for i in range(24):
        lo = [0.0 + (i % 3) * 0.01, 0.1] if i % 2 == 0 else [10.0, 10.0 + (i % 3) * 0.01]
        hi = [0.0, 0.2 + (i % 2) * 0.01] if i % 4 < 2 else [20.0 + (i % 3) * 0.01, 20.0]
        rows.append((i, lo + hi))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_codes_recover_product_structure(quad_blobs):
    from pipeline_etl_ecommerce_spark.operators.pq import pq_codebooks, pq_encode

    books = pq_codebooks(quad_blobs, "embedding", "vec_id", m=2, k=2, iters=3, dim=4)
    assert books.count() == 4  # 2 subspaces x k=2
    codes = pq_encode(quad_blobs, books, "embedding", "vec_id", m=2, dim=4).collect()
    by_vec = {}
    for r in codes:
        by_vec.setdefault(r["vec_id"], {})[r["sub"]] = r["code"]
    # same half-blob -> same code within each subspace, different blobs differ
    assert by_vec[0][0] == by_vec[2][0] and by_vec[0][0] != by_vec[1][0]
    assert by_vec[0][1] == by_vec[1][1] and by_vec[0][1] != by_vec[2][1]


def test_pq_adc_ranks_own_region_first(quad_blobs):
    from pipeline_etl_ecommerce_spark.operators.pq import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    books = pq_codebooks(quad_blobs, "embedding", "vec_id", m=2, k=2, iters=3, dim=4)
    codes = pq_encode(quad_blobs, books, "embedding", "vec_id", m=2, dim=4)
    queries = quad_blobs.filter("vec_id < 4")
    got = pq_adc_topk(codes, books, queries, "embedding", "vec_id", m=2, k=3, dim=4)
    rows = got.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2, 3}
    # top-ranked neighbors share BOTH codes with the query (distance 0 in
    # the quantized space) and never include the query itself
    code_map = {}
    for r in codes.collect():
        code_map.setdefault(r["vec_id"], {})[r["sub"]] = r["code"]
    for r in rows:
        assert r["cand_id"] != r["query_id"]
        if r["rnk"] == 1:
            assert code_map[r["cand_id"]] == code_map[r["query_id"]]


def test_pq_delta_encoding_matches_full(quad_blobs):
    # delta-ingest contract (same as the k-means assignment): encoding a
    # subset against the trained codebooks equals the full encoding
    from pipeline_etl_ecommerce_spark.operators.pq import pq_codebooks, pq_encode

    books = pq_codebooks(quad_blobs, "embedding", "vec_id", m=2, k=2, iters=3, dim=4)
    full = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in pq_encode(quad_blobs, books, "embedding", "vec_id", m=2, dim=4).collect()
    }
    delta = quad_blobs.filter("vec_id >= 12")
    part = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in pq_encode(delta, books, "embedding", "vec_id", m=2, dim=4).collect()
    }
    assert part == {k: v for k, v in full.items() if k[0] >= 12}
