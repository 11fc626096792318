"""Bitext mining (r10): the IVF-indexed miner and its Arrow cosine kernel.

The r9 verdict's one scale-killer was bitext_margin_pairs running both kNN
legs as unbounded broadcast cross joins. r10 swaps the legs for per-side
sublinear IVF indexes; these tests pin the two invariants the swap relies
on:

1. ``ivf_knn_arrow`` (the vectorized cogrouped cosine kernel) is
   BIT-identical to ``ivf_knn_normed`` (the pure-JVM fold) — same rows,
   same exact doubles. The kernel's rank-1 numpy accumulation reproduces
   the fold's left-to-right IEEE order; this test is the proof, over
   corpora with adversarial magnitudes (mixed 1e-3..1e3 scales).
2. The indexed miner finds the planted alignment the exact miner finds,
   and colliding ids across sides are NOT dropped (the exact form's
   documented self-exclusion trap, ADVICE r9).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.operators.ivf import sublinear_nprobe
from pipeline_etl_ecommerce_spark.operators.similarity import (
    ivf_knn_arrow,
    ivf_knn_normed,
    margin_mined_pairs,
    margin_mined_pairs_indexed,
)
from tests.conftest import search_index

SCHEMA = "vec_id long, embedding array<double>"


def _corpus(rng: random.Random, ids, dim=8, scale=1.0):
    return [
        (i, [rng.uniform(-1, 1) * scale * (10 ** rng.randint(-3, 3)) for _ in range(dim)])
        for i in ids
    ]


@pytest.mark.parametrize("seed", [3, 11])
def test_ivf_knn_arrow_bit_identical_to_jvm_fold(spark, seed):
    rng = random.Random(seed)
    corpus = spark.createDataFrame(_corpus(rng, range(0, 60)), SCHEMA)
    queries = spark.createDataFrame(_corpus(rng, range(100, 120)), SCHEMA)
    lists, cents = search_index(corpus)
    np_ = sublinear_nprobe(cents.count())
    kwargs = dict(nprobe=np_, k=4)
    jvm = {
        (r["query_id"], r["cand_id"]): (r["cos_sim"], r["rnk"])
        for r in ivf_knn_normed(lists, cents, queries, **kwargs).collect()
    }
    arrow = {
        (r["query_id"], r["cand_id"]): (r["cos_sim"], r["rnk"])
        for r in ivf_knn_arrow(lists, cents, queries, **kwargs).collect()
    }
    assert jvm == arrow  # exact float equality, ranks included
    assert len(arrow) == 20 * 4


def test_ivf_knn_arrow_keeps_colliding_ids(spark):
    """Two-table mining semantics: a query whose id also exists in the
    candidate lists stays eligible for that candidate (the exact miner's
    cosine_topk would silently drop it — the documented disjoint-id trap)."""
    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    # candidate id 5 is (near) identical to query id 5
    cand_rows = [(5, [x + 1e-6 for x in base])] + _corpus(rng, range(20, 40))
    corpus = spark.createDataFrame(cand_rows, SCHEMA)
    queries = spark.createDataFrame([(5, base)], SCHEMA)
    lists, cents = search_index(corpus)
    out = ivf_knn_arrow(
        lists, cents, queries, nprobe=sublinear_nprobe(cents.count()), k=1
    ).collect()
    assert len(out) == 1 and out[0]["cand_id"] == 5 and out[0]["cos_sim"] > 0.999


def test_margin_mined_pairs_indexed_planted_alignment(spark):
    """The indexed miner mines the planted aligned pair, like the exact
    rule (test_llm_data_ops.test_margin_mined_pairs_planted_alignment);
    with full-coverage probes (nprobe = k_clusters) its kNN legs are exact,
    so the mined set must EQUAL the exact miner's output row for row."""
    rng = random.Random(5)
    dim = 16

    def rand_vec():
        return [rng.uniform(-1, 1) for _ in range(dim)]

    base = rand_vec()
    a_rows = [(0, [x + rng.uniform(-0.01, 0.01) for x in base])] + [
        (2 * i, rand_vec()) for i in range(1, 9)
    ]
    b_rows = [(1, [x + rng.uniform(-0.01, 0.01) for x in base])] + [
        (2 * i + 1, rand_vec()) for i in range(1, 9)
    ]
    A = spark.createDataFrame(a_rows, SCHEMA)
    B = spark.createDataFrame(b_rows, SCHEMA)
    lists_a, cents_a = search_index(A)
    lists_b, cents_b = search_index(B)
    ka, kb = cents_a.count(), cents_b.count()
    mined = margin_mined_pairs_indexed(
        A, B, lists_a, cents_a, lists_b, cents_b,
        k=3, tau=1.05, nprobe_a=ka, nprobe_b=kb,  # full probe -> exact legs
    )
    got = {r["src_id"]: (r["tgt_id"], r["cos_sim"], r["margin"]) for r in mined.collect()}
    exact = {
        r["src_id"]: (r["tgt_id"], r["cos_sim"], r["margin"])
        for r in margin_mined_pairs(A, B, k=3, tau=1.05).collect()
    }
    assert got == exact
    assert got[0][0] == 1 and got[0][1] > 0.99


def test_ivf_knn_arrow_empty_probe_groups(spark):
    """Clusters with probes but no list rows (and vice versa) must not
    crash the cogrouped kernel — empty frames yield no rows."""
    corpus = spark.createDataFrame(_corpus(random.Random(1), range(10)), SCHEMA)
    lists, cents = search_index(corpus)
    queries = spark.createDataFrame(_corpus(random.Random(2), range(50, 53)), SCHEMA)
    out = ivf_knn_arrow(lists, cents, queries, nprobe=2, k=2)
    assert out.count() == 3 * 2
    assert out.filter(F.col("cos_sim").isNull()).count() == 0
