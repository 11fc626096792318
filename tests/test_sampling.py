"""Deterministic sampling/splitting: stability, proportions, stratification
independence, and per-stratum reweighting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.operators.sampling import (
    _hex_threshold,
    deterministic_split,
    stratified_sample,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, "pt" if i % 3 else "en") for i in range(2000)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_hex_threshold_edges():
    assert _hex_threshold(0.0) == "00000000"
    assert _hex_threshold(0.8) == "cccccccc"
    assert _hex_threshold(1.0) == "g"  # greater than any hex string
    assert "ffffffff" < "g"


def test_split_is_stable_and_proportional(corpus):
    s1 = {r["doc_id"]: r["split"] for r in deterministic_split(corpus, "doc_id").collect()}
    s2 = {r["doc_id"]: r["split"] for r in deterministic_split(corpus, "doc_id").collect()}
    assert s1 == s2  # no RNG anywhere: bit-identical across runs
    n = len(s1)
    frac = {name: sum(1 for v in s1.values() if v == name) / n for name in ("train", "val", "test")}
    assert frac["train"] == pytest.approx(0.8, abs=0.05)
    assert frac["val"] == pytest.approx(0.1, abs=0.03)
    assert frac["test"] == pytest.approx(0.1, abs=0.03)
    # assignment survives re-partitioning (identity-only, not layout)
    s3 = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(corpus.repartition(7, "lang"), "doc_id").collect()
    }
    assert s3 == s1


def test_stratified_sample_hits_every_stratum_at_rate(corpus):
    out = stratified_sample(corpus, "lang", "doc_id", fraction=0.25)
    rates = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    totals = {
        r["lang"]: r["n"]
        for r in corpus.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang in totals:
        assert rates.get(lang, 0) / totals[lang] == pytest.approx(0.25, abs=0.07)


def test_pack_sequences_semantics(spark):
    from pipeline_etl_ecommerce_spark.operators.packing import pack_sequences

    rows = [  # (id, shard, tokens)
        (1, "a", 300), (2, "a", 300), (3, "a", 300), (4, "a", 50),
        (5, "b", 600),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {r["doc_id"]: r.asDict() for r in
           pack_sequences(df, "doc_id", "n_tokens", budget=512, shard_col="source").collect()}
    # shard a: offsets 0, 300, 600, 900 -> packs 0, 0, 1, 1
    assert [got[i]["pack_id"] for i in (1, 2, 3, 4)] == [0, 0, 1, 1]
    assert got[2]["pack_offset"] == 300  # doc 2 starts mid-pack
    assert got[3]["pack_offset"] == 88  # 600 % 512
    # shards pack independently
    assert got[5]["pack_id"] == 0 and got[5]["pack_offset"] == 0
    # docs are never split: each doc appears exactly once
    assert len(got) == 5


def test_assemble_packs_order_is_deterministic(spark):
    from pipeline_etl_ecommerce_spark.operators.packing import assemble_packs, pack_sequences

    rows = [(i, "a", f"doc{i}", 200) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string, n_tokens long")
    packed = pack_sequences(df, "doc_id", "n_tokens", budget=512, shard_col="source")
    out = {r["pack_id"]: r.asDict()
           for r in assemble_packs(packed, "doc_id", "text", "n_tokens", shard_col="source").collect()}
    # offsets 0,200,400,600,800,1000 -> packs 0,0,0,1,1,1
    assert out[0]["packed_text"] == "doc1 doc2 doc3"
    assert out[1]["packed_text"] == "doc4 doc5 doc6"
    assert out[0]["n_docs"] == 3 and out[0]["pack_tokens"] == 600
    # adversarial partitioning cannot change in-pack order
    scrambled = assemble_packs(
        packed.repartition(5).sortWithinPartitions(F.col("doc_id").desc()),
        "doc_id", "text", "n_tokens", shard_col="source",
    )
    assert {r["pack_id"]: r["packed_text"] for r in scrambled.collect()} == {
        k: v["packed_text"] for k, v in out.items()
    }


def test_weighted_sample_prefers_heavy_rows(spark):
    from pipeline_etl_ecommerce_spark.operators.sampling import weighted_sample_topk

    # 50 heavy rows (weight 1000) vs 450 light rows (weight 1): a k=50
    # weight-proportional sample should be dominated by heavy rows
    rows = [(i, 1000.0 if i < 50 else 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = weighted_sample_topk(df, "w", "id", k=50)
    heavy = got.filter(F.col("id") < 50).count()
    assert heavy >= 40  # ~P[heavy in sample] >> light; exact value is deterministic

    # deterministic: identical result on re-run, regardless of layout
    again = weighted_sample_topk(df.repartition(7), "w", "id", k=50)
    assert sorted(r["id"] for r in got.collect()) == sorted(r["id"] for r in again.collect())


def test_weighted_sample_per_stratum_and_guards(spark):
    from pipeline_etl_ecommerce_spark.operators.sampling import weighted_sample_topk

    rows = [(i, "a" if i % 2 == 0 else "b", float(1 + i % 3)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, s string, w double")
    got = weighted_sample_topk(df, "w", "id", k=5, strata_col="s")
    by_s = {r["s"]: 0 for r in got.collect()}
    for r in got.collect():
        by_s[r["s"]] += 1
    assert by_s == {"a": 5, "b": 5}

    # zero/negative weights are never selected
    dfz = spark.createDataFrame([(1, 0.0), (2, -3.0), (3, 5.0)], "id long, w double")
    assert [r["id"] for r in weighted_sample_topk(dfz, "w", "id", k=10).collect()] == [3]
    with pytest.raises(ValueError):
        weighted_sample_topk(dfz, "w", "id", k=0)


def test_token_budget_sample_fills_and_bounds_each_stratum(spark):
    from pipeline_etl_ecommerce_spark.operators.sampling import token_budget_sample

    rows = [(i, "a" if i % 2 == 0 else "b", 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out = token_budget_sample(df, "lang", "n_tokens", "doc_id", budget=95).collect()
    by = {}
    for r in out:
        by.setdefault(r["lang"], []).append(r)
    for lang, picked in by.items():
        total = sum(r["n_tokens"] for r in picked)
        # boundary doc included: coverage >= budget, overshoot < one doc
        assert 95 <= total < 95 + 10
        assert len(picked) == 10  # ceil(95/10)
    # determinism across layouts
    out2 = token_budget_sample(
        df.repartition(7), "lang", "n_tokens", "doc_id", budget=95
    ).collect()
    assert sorted((r["doc_id"]) for r in out2) == sorted(r["doc_id"] for r in out)
