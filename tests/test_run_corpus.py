"""End-to-end corpus-pipeline driver test (plans/corpus_pipeline.py):
dedup + curation + chunk/pack/shard marts converge, re-runs are
idempotent, and a delta ingest that introduces a better duplicate EVICTS
the old doc from the curated set and its chunks from the sequences mart."""

from __future__ import annotations

import os

import pytest

from tests.conftest import count_jobs
from pipeline_etl_ecommerce_spark.plans.corpus_pipeline import ingest_batch


def _doc(i, text):
    return (i, text)


def _good_text(tag, n=35):
    # digit-free tokens: the alpha-ratio quality gate (>= 0.8) must pass
    return " ".join([tag] * n)


@pytest.fixture()
def batch1(spark):
    base = _good_text("alpha")
    rows = [
        _doc(1, base),                       # cluster with 2 (exact dup)
        _doc(2, base),
        _doc(3, _good_text("beta")),         # clean singleton
        _doc(4, "too short"),                # junk: fails MIN_TOKENS
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_corpus_pipeline_end_to_end(spark, tmp_path, batch1):
    marts = str(tmp_path / "marts")

    s1 = ingest_batch(spark, batch1, marts, chunk_size=8, pack_budget=16, n_shards=2)
    assert s1["corpus"] == 4
    assert s1["verified_pairs"] >= 1          # the 1-2 dup pair
    # curated: one representative of {1,2} + doc 3; junk 4 dropped
    assert s1["curated"] == 2
    curated_ids = {r.doc_id for r in spark.read.parquet(f"{marts}/curated").collect()}
    assert 3 in curated_ids and len(curated_ids & {1, 2}) == 1
    # sequences exist only for curated docs
    seq_ids = {r.doc_id for r in spark.read.parquet(f"{marts}/sequences").collect()}
    assert seq_ids == curated_ids
    assert s1["dq_violations"] == 0
    # packs/shards materialized deterministically
    assert s1["packs"] >= 1 and s1["shards"] == s1["packs"]
    # importance weights cover the whole corpus; curated (target) docs
    # score at least as high as the junk doc 4 on average
    assert s1["importance_weights"] == s1["corpus"]
    weights = {
        r.doc_id: r.importance_weight
        for r in spark.read.parquet(f"{marts}/importance_weights").collect()
    }
    cur_avg = sum(weights[d] for d in curated_ids) / len(curated_ids)
    assert cur_avg > weights[4]
    # BPE merge table trained on the curated corpus, rounds in order
    merges = spark.read.parquet(f"{marts}/bpe_merges").collect()
    assert s1["bpe_merges"] >= 1
    assert sorted(r["round"] for r in merges) == list(range(1, len(merges) + 1))

    # idempotence: replaying the same batch changes nothing
    s2 = ingest_batch(spark, batch1, marts, chunk_size=8, pack_budget=16, n_shards=2)
    assert s2 == s1


def test_corpus_pipeline_delta_evicts_worse_duplicate(spark, tmp_path, batch1):
    marts = str(tmp_path / "marts")
    ingest_batch(spark, batch1, marts, chunk_size=8, pack_budget=16, n_shards=2)

    # delta: doc 10 near-duplicates doc 3 (same shingle set, longer text)
    delta = spark.createDataFrame(
        [(10, _good_text("beta", 45))], "doc_id long, text string"
    )
    s3 = ingest_batch(spark, delta, marts, chunk_size=8, pack_budget=16, n_shards=2)
    assert s3["corpus"] == 5
    pairs = {
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(f"{marts}/verified_pairs").collect()
    }
    assert (3, 10) in pairs                   # delta × mart candidate found it
    curated_ids = {r.doc_id for r in spark.read.parquet(f"{marts}/curated").collect()}
    # exactly one of {3, 10} survives, and the sequences mart mirrors it
    assert len(curated_ids & {3, 10}) == 1
    seq_ids = {r.doc_id for r in spark.read.parquet(f"{marts}/sequences").collect()}
    assert seq_ids == curated_ids


def test_corpus_pipeline_stream_converges_marts(spark, tmp_path):
    """Streaming wrapper: document drops arriving across micro-batches
    converge the same marts, including cross-batch near-dup eviction."""
    import json as _json
    import os as _os

    from pipeline_etl_ecommerce_spark.streaming.pipelines import corpus_pipeline_stream

    drops = str(tmp_path / "drops")
    marts = str(tmp_path / "marts")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(drops)

    def drop(name, rows):
        with open(_os.path.join(drops, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    args = (spark, drops, marts, ckpt)
    drop("b1.json", [
        {"doc_id": 1, "text": _good_text("alpha")},
        {"doc_id": 3, "text": _good_text("beta")},
    ])
    corpus_pipeline_stream(*args, chunk_size=8, pack_budget=16, n_shards=2).awaitTermination(240)
    assert {r.doc_id for r in spark.read.parquet(f"{marts}/curated").collect()} == {1, 3}

    # second trigger: a near-dup of doc 3 arrives; one of {3, 10} must be
    # evicted and the sequences mart must follow
    drop("b2.json", [{"doc_id": 10, "text": _good_text("beta", 45)}])
    corpus_pipeline_stream(*args, chunk_size=8, pack_budget=16, n_shards=2).awaitTermination(240)
    curated = {r.doc_id for r in spark.read.parquet(f"{marts}/curated").collect()}
    assert 1 in curated and len(curated & {3, 10}) == 1
    seq_ids = {r.doc_id for r in spark.read.parquet(f"{marts}/sequences").collect()}
    assert seq_ids == curated


def test_repeated_ingests_upsert_the_corpus_in_place(spark, tmp_path):
    """Every ingest upserts its docs into the flat corpus mart: three
    ingests of disjoint doc ids add one file each and rewrite none, leave
    no journal or staging, and the corpus holds every doc. The run history
    numbers the runs 0, 1, 2."""
    from pipeline_etl_ecommerce_spark.plans.corpus_pipeline import record_run
    from pipeline_etl_ecommerce_spark.sources.sinks import read_mart

    marts = str(tmp_path / "marts")
    run_ids = []
    for b in range(3):
        ids = (2 * b, 2 * b + 1)
        docs = spark.createDataFrame([(i, _good_text(f"doc{i}")) for i in ids], "doc_id long, text string")
        stats = ingest_batch(spark, docs, marts, chunk_size=8, pack_budget=16, n_shards=2)
        run_ids.append(record_run(spark, marts, stats))
    assert run_ids == [0, 1, 2]
    files = os.listdir(f"{marts}/corpus")
    assert len(files) == 3 and all(f.endswith(".parquet") for f in files)
    assert sorted(r.doc_id for r in read_mart(spark, f"{marts}/corpus").collect()) == list(range(6))


def test_semantic_decontamination_stage_drops_eval_proximate_docs(spark, tmp_path, batch1):
    """Curated doc 3 sits at cosine 1.0 to an eval vector (paraphrase of a
    benchmark item: zero n-gram overlap possible, so only the embedding
    stage can catch it); the surviving curated doc is near-orthogonal.
    The stage must drop 3 from curated AND from every downstream mart,
    write the audit mart, and stay idempotent on re-run."""
    marts = str(tmp_path / "marts")
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),
         (3, [0.0, 1.0, 0.0]), (4, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    evals = spark.createDataFrame(
        [(1001, [0.0, 0.9, 0.1])], "vec_id long, embedding array<float>"
    )
    kw = dict(chunk_size=8, pack_budget=16, n_shards=2,
              embeddings=emb, eval_vectors=evals, semantic_tau=0.8)
    s1 = ingest_batch(spark, batch1, marts, **kw)
    assert s1["semantic_contaminated"] == 1
    flagged = spark.read.parquet(f"{marts}/semantic_contaminated").collect()
    assert [(r.vec_id, r.nearest_eval_id) for r in flagged] == [(3, 1001)]
    curated_ids = {r.doc_id for r in spark.read.parquet(f"{marts}/curated").collect()}
    assert 3 not in curated_ids and len(curated_ids) == 1  # one of the 1/2 dups survives
    seq_ids = {r.doc_id for r in spark.read.parquet(f"{marts}/sequences").collect()}
    assert seq_ids == curated_ids
    s2 = ingest_batch(spark, batch1, marts, **kw)
    assert s2 == s1


def test_semantic_stage_is_skipped_without_embeddings(spark, tmp_path, batch1):
    marts = str(tmp_path / "marts")
    s1 = ingest_batch(spark, batch1, marts, chunk_size=8, pack_budget=16, n_shards=2)
    assert "semantic_contaminated" not in s1
    assert not os.path.exists(f"{marts}/semantic_contaminated")


def test_perplexity_gate_drops_disfluent_docs(spark, tmp_path):
    """CCNet-style stage 5c: doc 11 is gibberish relative to the reference
    LM (every trigram context unseen -> ppl == vocab size), doc 10 is
    reference-like prose. With tau between the two scores the gate must
    drop 11 from curated and every downstream mart, write the audit mart,
    and stay idempotent on re-run."""
    from pipeline_etl_ecommerce_spark.operators.lm import (
        perplexity_scores,
        train_char_trigram_lm,
    )

    marts = str(tmp_path / "marts")
    reference = spark.createDataFrame(
        [("the cat sat on the mat and the dog ran off",)], "text string"
    )
    batch = spark.createDataFrame(
        [(10, _good_text("thecat", n=35)), (11, _good_text("zqxj", n=35))],
        "doc_id long, text string",
    )
    # derive tau from the actual scores so the test pins ORDER, not floats
    scores = {
        r["doc_id"]: r["ppl"]
        for r in perplexity_scores(
            batch, train_char_trigram_lm(reference, "text"), "text", "doc_id"
        ).collect()
    }
    assert scores[11] > scores[10]
    tau = (scores[10] + scores[11]) / 2
    kw = dict(chunk_size=8, pack_budget=16, n_shards=2,
              ppl_tau=tau, lm_reference=reference)
    s1 = ingest_batch(spark, batch, marts, **kw)
    assert s1["ppl_rejected"] == 1
    rejected = spark.read.parquet(f"{marts}/ppl_rejected").collect()
    assert [r.doc_id for r in rejected] == [11]
    assert rejected[0].ppl == scores[11]
    curated_ids = {r.doc_id for r in spark.read.parquet(f"{marts}/curated").collect()}
    assert curated_ids == {10}
    seq_ids = {r.doc_id for r in spark.read.parquet(f"{marts}/sequences").collect()}
    assert seq_ids == {10}
    s2 = ingest_batch(spark, batch, marts, **kw)
    assert s2 == s1


def test_perplexity_gate_requires_both_params(spark, tmp_path, batch1):
    with pytest.raises(ValueError, match="together"):
        ingest_batch(spark, batch1, str(tmp_path / "m"), ppl_tau=5.0)
    with pytest.raises(ValueError, match="together"):
        ingest_batch(
            spark, batch1, str(tmp_path / "m2"),
            lm_reference=spark.createDataFrame([("x y z",)], "text string"),
        )


def test_perplexity_stage_skipped_without_tau(spark, tmp_path, batch1):
    marts = str(tmp_path / "marts")
    s1 = ingest_batch(spark, batch1, marts, chunk_size=8, pack_budget=16, n_shards=2)
    assert "ppl_rejected" not in s1
    assert not os.path.exists(f"{marts}/ppl_rejected")


def test_corpus_mart_reads_run_no_job(spark, tmp_path, batch1, monkeypatch):
    """Every mart the pipeline reads back is opened from one footer's schema:
    no schema-inference job. The Hive-partitioned shards mart is the one
    exception: ``read_mart`` leaves it to Spark's own read."""
    from pipeline_etl_ecommerce_spark.plans import corpus_pipeline

    marts = str(tmp_path / "marts")
    jobs: dict[str, int] = {}
    read_mart = corpus_pipeline.read_mart

    def counted(spark, path):
        df, jobs[os.path.basename(path)] = count_jobs(spark, lambda: read_mart(spark, path))
        return df

    monkeypatch.setattr(corpus_pipeline, "read_mart", counted)
    for _ in range(2):  # the second run also reads the run-history mart back
        corpus_pipeline.record_run(
            spark, marts, ingest_batch(spark, batch1, marts, chunk_size=8, pack_budget=16, n_shards=2)
        )
    assert jobs.pop("shards") >= 1
    assert {"minhash_bands", "verified_pairs", "canonical", "sequences", "dq_report", "_history"} <= set(jobs)
    assert jobs == dict.fromkeys(jobs, 0)
