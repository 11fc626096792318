"""Incremental MinHash: the signature mart updates with delta-only hashing,
and incremental candidate pairs compose to exactly the full-recompute set.

The invariant under test (the whole point of the incremental design):
    pairs(corpus_before) ∪ incremental_pairs(mart_after, delta)
        == pairs(corpus_after)
so a daily delta ingest never loses or invents a candidate pair relative to
re-running LSH over the full corpus.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.operators.dedupe import (
    incremental_candidate_pairs,
    minhash_band_keys,
    minhash_candidate_pairs,
    update_signature_mart,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy cat"),
        (4, "el perro corre por la calle y es muy rapido"),
        (5, "completamente diferente texto sobre otra cosa que nada tiene"),
        (6, "the quick brown fox jumps over the lazy dig"),  # near dup arriving later
        (7, "el perro corre por la calle y es muy lento"),  # near dup arriving later
        (8, "texto nuevo sin relacion con ningun documento previo aqui"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pair_set(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_incremental_pairs_compose_to_full_recompute(spark, corpus):
    old = corpus.filter(F.col("doc_id") <= 5)
    delta = corpus.filter(F.col("doc_id") > 5)

    old_bk = minhash_band_keys(old, "text", "doc_id", k=5, num_hashes=4, bands=2)
    delta_bk = minhash_band_keys(delta, "text", "doc_id", k=5, num_hashes=4, bands=2)
    mart_after = old_bk.unionByName(delta_bk)

    old_pairs = _pair_set(minhash_candidate_pairs(old_bk))
    inc_pairs = _pair_set(incremental_candidate_pairs(mart_after, delta_bk))
    full_pairs = _pair_set(
        minhash_candidate_pairs(minhash_band_keys(corpus, "text", "doc_id", k=5, num_hashes=4, bands=2))
    )
    assert old_pairs | inc_pairs == full_pairs
    # incremental pairs never pair two pre-existing docs with each other
    assert all(a > 5 or b > 5 for a, b in inc_pairs)


def test_incremental_pairs_see_delta_delta_and_delta_old(spark, corpus):
    old_bk = minhash_band_keys(
        corpus.filter(F.col("doc_id") <= 5), "text", "doc_id", k=5, num_hashes=4, bands=2
    )
    delta_bk = minhash_band_keys(
        corpus.filter(F.col("doc_id") > 5), "text", "doc_id", k=5, num_hashes=4, bands=2
    )
    inc = _pair_set(incremental_candidate_pairs(old_bk.unionByName(delta_bk), delta_bk))
    assert (1, 6) in inc or (2, 6) in inc  # delta doc pairs with an old near-dup
    assert all(a < b for a, b in inc)  # orientation normalized


WORDS = ["fox", "dog", "cat", "perro", "calle", "rapido", "lento", "texto", "the", "muy"]


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=3, max_size=8).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    split=st.integers(min_value=1, max_value=7),
)
def test_incremental_composition_property(spark, texts, split):
    """For ANY corpus and ANY old/delta split point:
    pairs(old) ∪ incremental(mart, delta) == pairs(full)."""
    corpus = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    split = min(split, len(texts) - 1)
    old = corpus.filter(F.col("doc_id") < split)
    delta = corpus.filter(F.col("doc_id") >= split)

    kw = dict(k=3, num_hashes=4, bands=2)
    old_bk = minhash_band_keys(old, "text", "doc_id", **kw)
    delta_bk = minhash_band_keys(delta, "text", "doc_id", **kw)
    full_bk = minhash_band_keys(corpus, "text", "doc_id", **kw)

    old_pairs = _pair_set(minhash_candidate_pairs(old_bk))
    inc_pairs = _pair_set(incremental_candidate_pairs(old_bk.unionByName(delta_bk), delta_bk))
    full_pairs = _pair_set(minhash_candidate_pairs(full_bk))
    assert old_pairs | inc_pairs == full_pairs


def test_signature_mart_upsert_replaces_changed_docs(spark, corpus, tmp_path):
    mart = str(tmp_path / "minhash_mart")
    update_signature_mart(
        corpus.filter(F.col("doc_id") <= 5), mart, "text", "doc_id", k=5, num_hashes=4, bands=2
    )
    assert spark.read.parquet(mart).count() == 5 * 2  # one row per doc per band

    # re-ingest doc 3 with CHANGED text plus two genuinely new docs
    changed = spark.createDataFrame(
        [
            (3, "contenido totalmente reescrito para el documento tres"),
            (6, "the quick brown fox jumps over the lazy dig"),
            (7, "el perro corre por la calle y es muy lento"),
        ],
        "doc_id long, text string",
    )
    delta_bk = update_signature_mart(changed, mart, "text", "doc_id", k=5, num_hashes=4, bands=2)

    stored = spark.read.parquet(mart)
    assert stored.count() == 7 * 2  # upsert: doc 3 replaced, not duplicated
    # the mart now holds doc 3's NEW signature (matches a fresh delta hash)
    new3 = {
        (r["band"], r["band_key"])
        for r in delta_bk.filter(F.col("doc_id") == 3).collect()
    }
    stored3 = {
        (r["band"], r["band_key"])
        for r in stored.filter(F.col("doc_id") == 3).collect()
    }
    assert stored3 == new3

    # and delta × mart pairing off the stored mart finds the old near-dups
    inc = _pair_set(incremental_candidate_pairs(stored, delta_bk))
    assert (1, 6) in inc or (2, 6) in inc


# ---------------------------------------------------------------------------
# Incremental SimHash: same composition invariant, signature mart keyed by
# doc_id alone (the signature is one row per doc).
# ---------------------------------------------------------------------------

from pipeline_etl_ecommerce_spark.operators.dedupe import (
    incremental_simhash_pairs,
    simhash32,
    simhash_near_pairs,
)
from pipeline_etl_ecommerce_spark.sources.sinks import upsert_to_path


def _pairs_set(df):
    return {(r.doc_a, r.doc_b, r.hamming) for r in df.collect()}


def _upsert_signatures(docs, mart_path):
    """Hash only ``docs`` and upsert their signatures into the doc-keyed
    mart; returns the delta signatures."""
    delta = simhash32(docs, "text", "doc_id")
    upsert_to_path(delta, mart_path, keys=["doc_id"])
    return delta


def test_incremental_simhash_composes_to_full_recompute(spark, corpus, tmp_path):
    mart_path = str(tmp_path / "simhash_mart")
    old = corpus.filter(F.col("doc_id") <= 3)
    delta = corpus.filter(F.col("doc_id") > 3)

    _upsert_signatures(old, mart_path)
    before = _pairs_set(simhash_near_pairs(spark.read.parquet(mart_path), max_hamming=8))

    delta_sigs = _upsert_signatures(delta, mart_path)
    mart_after = spark.read.parquet(mart_path)
    inc = _pairs_set(incremental_simhash_pairs(mart_after, delta_sigs, max_hamming=8))

    full = _pairs_set(simhash_near_pairs(simhash32(corpus, "text", "doc_id"), max_hamming=8))
    assert before | inc == full


