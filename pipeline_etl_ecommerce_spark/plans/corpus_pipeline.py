"""End-to-end training-corpus pipeline over persisted marts — the
LLM-data analog of the daily e-commerce driver (scripts/run_daily.py).

One invocation ingests a document batch and converges every derived mart:

  corpus (keyed upsert)
    └─ minhash band-key signature mart          (delta-only hashing)
        └─ candidate pairs (delta × mart join)  → verified-pairs mart
            └─ connected components             → canonical mart
                └─ quality gates                → curated mart
                    └─ token chunks             → sequences mart (per-doc replace)
                        └─ greedy packs         → packs mart
                            └─ shuffle shards   → shards mart (partitioned)
  DSIR importance weights (target = curated)    → importance_weights mart
  BPE merge table (trained on curated corpus)   → bpe_merges mart
  dq constraint report + column profile         → reports

Incremental contract: the INPUT is a delta batch. Stages 1-3 do
delta-scoped work (delta hashing, delta × mart candidate join — the
composition invariant tested in tests/test_incremental_minhash.py
guarantees the pair mart equals a full recompute). Stages 4+ are full
refreshes over the marts: near-dup components and curation are global
properties (a new duplicate can evict an OLD document from the curated
set), so their cost is proportional to the corpus — at 100 TB these run
as scheduled maintenance over the pair/curated marts, while 1-3 run per
ingest. Every sink is idempotent (keyed upsert / group replace /
overwrite), so re-running any batch converges, and every sink commits
crash-safe (``sinks._commit``). A full refresh is one ``overwrite_path``:
it stages the new rows in full before the old files go, so a stage may
rewrite a mart from a frame that reads it (curated, sequences), and its
row count comes from the staged footers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import learn_bpe_merges
from ..operators.chunking import chunk_documents
from ..operators.dedupe import (
    connected_components,
    incremental_candidate_pairs,
    keep_best_per_cluster,
    update_signature_mart,
    verify_candidate_pairs,
)
from ..operators.decontam import semantic_contamination
from ..operators.importance import dsir_importance_weights
from ..operators.lm import perplexity_scores, train_char_trigram_lm
from ..operators.dq import check_not_null, check_unique, dq_report
from ..operators.packing import assemble_packs, pack_sequences
from ..operators.ranking import first_per_group
from ..operators.sharding import shuffle_shards
from ..operators.textstats import quality_features
from ..sources.sinks import (
    overwrite_path,
    read_mart,
    replace_groups_to_path,
    upsert_to_path,
)

# Curation gates — match the catalog's curated_documents thresholds.
MIN_TOKENS = 30
MIN_ALPHA = 0.8


def _mart(marts: str, name: str) -> str:
    return os.path.join(marts, name)


def _overwrite_and_read(
    spark: SparkSession, df: DataFrame, path: str, *, partition_by: list[str] | None = None
):
    """Overwrite ``path`` with ``df``, which may read ``path`` itself, and
    hand back the mart read back and the rows written (from the footers, so
    ``df`` runs once)."""
    n = overwrite_path(df, path, partition_by=partition_by)
    return read_mart(spark, path), n


def ingest_batch(
    spark: SparkSession,
    docs: DataFrame,
    marts: str,
    *,
    chunk_size: int = 32,
    pack_budget: int = 64,
    n_shards: int = 4,
    embeddings: DataFrame | None = None,
    eval_vectors: DataFrame | None = None,
    semantic_tau: float = 0.9,
    ppl_tau: float | None = None,
    lm_reference: DataFrame | None = None,
) -> dict[str, int]:
    """Ingest one document batch and converge all marts. Returns per-mart
    row counts for logging/assertions.

    When ``embeddings`` (``vec_id == doc_id``, ``embedding array<float>``)
    and ``eval_vectors`` (same schema — the held-out benchmark set) are
    both given, a semantic-decontamination stage runs after curation:
    curated docs within ``semantic_tau`` cosine of ANY eval vector are
    dropped before chunking (paraphrased eval items leave no exact n-gram
    overlap, so the signature-based dedup path cannot catch them), and the
    flagged set is written to the ``semantic_contaminated`` audit mart.

    ``semantic_tau`` defaults to 0.9, matching the underlying
    ``semantic_contamination`` operator: on real embeddings a low threshold
    (cosine >= 0.35 matches a large share of any corpus) would silently
    over-delete curated documents (ADVICE r3). The synthetic-testdata
    harnesses pass a lower tau explicitly because the generated embeddings
    have a compressed similarity range.

    When ``ppl_tau`` and ``lm_reference`` (a frame with a ``text`` column
    of trusted reference prose) are both given, a CCNet-style perplexity
    gate runs after curation: a char-trigram LM trains on the reference
    and curated docs scoring ABOVE ``ppl_tau`` (disfluent relative to the
    reference) are dropped, with the rejected set written to the
    ``ppl_rejected`` audit mart. Docs too short to emit a trigram carry
    no evidence and pass. Both-or-neither, like the embeddings pair —
    a tau without a reference corpus is not a meaningful gate."""
    if (ppl_tau is None) != (lm_reference is None):
        raise ValueError("ppl_tau and lm_reference must be given together")
    stats: dict[str, int] = {}
    batch = docs.select("doc_id", "text").dropDuplicates(["doc_id"])

    # 1. corpus: keyed upsert on doc_id, committed like every mart write
    corpus_path = _mart(marts, "corpus")
    upsert_to_path(batch, corpus_path, ["doc_id"])
    corpus = read_mart(spark, corpus_path)
    stats["corpus"] = corpus.count()

    # 2. signature mart: hash ONLY the batch, upsert band keys
    sig_path = _mart(marts, "minhash_bands")
    delta_bk = update_signature_mart(batch, sig_path, "text", "doc_id")
    mart_bk = read_mart(spark, sig_path)
    stats["minhash_bands"] = mart_bk.count()

    # 3. candidate pairs touching the delta (delta × mart), verified with
    # exact Jaccard over the corpus mart's text, upserted into the pair mart
    pairs_path = _mart(marts, "verified_pairs")
    cand = incremental_candidate_pairs(mart_bk, delta_bk)
    verified = verify_candidate_pairs(corpus, cand, "text", "doc_id")
    upsert_to_path(verified, pairs_path, ["doc_a", "doc_b"])
    pairs = read_mart(spark, pairs_path)
    stats["verified_pairs"] = pairs.count()

    # 4. canonical mart: components + quality-aware representative
    quality = quality_features(corpus, "text", "doc_id")
    comp = connected_components(pairs)
    best = keep_best_per_cluster(comp, quality, score_col="quality_score")
    canonical, stats["canonical"] = _overwrite_and_read(
        spark,
        comp.join(best.select("component_id", "best_doc_id"), "component_id"),
        _mart(marts, "canonical"),
    )

    # 5. curated mart: drop non-representatives of dup clusters + junk
    curated = (
        quality.join(
            canonical.select("doc_id", "best_doc_id"), "doc_id", "left"
        )
        .filter(F.col("best_doc_id").isNull() | (F.col("doc_id") == F.col("best_doc_id")))
        .filter((F.col("n_tokens") >= MIN_TOKENS) & (F.col("alpha_ratio") >= MIN_ALPHA))
        .select("doc_id", "n_tokens", "quality_score")
    )
    curated_path = _mart(marts, "curated")
    curated, stats["curated"] = _overwrite_and_read(spark, curated, curated_path)

    # 5b. semantic decontamination (optional): drop curated docs whose
    # embedding sits within tau cosine of a held-out eval vector — the
    # contamination mode the n-gram/signature paths can't see. Runs on the
    # CURATED slice only (eval side broadcast, map-side pass), writes the
    # flagged set as an audit mart, and rewrites curated so every
    # downstream mart (sequences, packs, shards, weights, BPE) reflects
    # the drop.
    if embeddings is not None and eval_vectors is not None:
        curated_vecs = embeddings.join(
            curated.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
        )
        flagged = semantic_contamination(
            curated_vecs, eval_vectors, threshold=semantic_tau
        )
        flag_path = _mart(marts, "semantic_contaminated")
        flagged, stats["semantic_contaminated"] = _overwrite_and_read(
            spark, flagged, flag_path
        )
        if stats["semantic_contaminated"]:
            curated, stats["curated"] = _overwrite_and_read(
                spark,
                curated.join(flagged.select(F.col("vec_id").alias("doc_id")), "doc_id", "anti"),
                curated_path,
            )

    # 5c. perplexity gate (optional): CCNet-style fluency filter — score
    # curated docs under the reference-trained char-trigram LM and drop
    # the high-perplexity tail. Model is charset-bounded (broadcast);
    # scoring is map-side + one per-doc aggregate over the curated slice
    # only. Audit mart first, then the curated rewrite propagates the
    # eviction to every downstream mart, same as 5b.
    if ppl_tau is not None:
        lm = train_char_trigram_lm(lm_reference, "text")
        cur_docs = corpus.join(curated.select("doc_id"), "doc_id", "semi")
        scored = perplexity_scores(cur_docs, lm, "text", "doc_id")
        rejected = scored.filter(F.col("ppl") > float(ppl_tau)).select("doc_id", "ppl")
        rej_path = _mart(marts, "ppl_rejected")
        rejected, stats["ppl_rejected"] = _overwrite_and_read(spark, rejected, rej_path)
        if stats["ppl_rejected"]:
            curated, stats["curated"] = _overwrite_and_read(
                spark, curated.join(rejected.select("doc_id"), "doc_id", "anti"), curated_path
            )

    # 6. sequences: chunk curated docs; per-doc REPLACE so re-chunking a
    # redelivered doc leaves no stale tail
    seq_path = _mart(marts, "sequences")
    to_chunk = corpus.join(curated.select("doc_id"), "doc_id", "semi")
    chunks = chunk_documents(to_chunk, "text", "doc_id", chunk_size=chunk_size)
    if os.path.exists(seq_path) or chunks.limit(1).count() > 0:
        replace_groups_to_path(chunks, seq_path, ["doc_id"])
        seqs_now = read_mart(spark, seq_path)
        # curation can EVICT previously-curated docs (a new dup wins): drop
        # their chunks so the sequences mart mirrors the curated set
        live = seqs_now.join(curated.select("doc_id"), "doc_id", "semi")
        seqs, stats["sequences"] = seqs_now, seqs_now.count()
        if live.count() != stats["sequences"]:
            seqs, stats["sequences"] = _overwrite_and_read(spark, live, seq_path)
    else:
        seqs, stats["sequences"] = chunks.limit(0), 0

    # 7. packs: deterministic greedy packing of chunk token counts
    seqs = seqs.withColumn(
        "seq_id",
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("chunk_index").cast("string")),
    )
    packed = pack_sequences(seqs, "seq_id", "chunk_tokens", budget=pack_budget)
    packs = assemble_packs(packed, "seq_id", "chunk_text", "chunk_tokens")
    packs_path = _mart(marts, "packs")
    packs, stats["packs"] = _overwrite_and_read(spark, packs, packs_path)

    # 8. shards: deterministic epoch shuffle, written partitioned by shard
    sharded = shuffle_shards(packs, "pack_id", n_shards=n_shards)
    shards_path = _mart(marts, "shards")
    _, stats["shards"] = _overwrite_and_read(
        spark, sharded, shards_path, partition_by=["shard"]
    )

    # 9. importance-weight mart: DSIR likelihood ratios steering the raw
    # corpus toward the CURATED distribution (global refresh, 4+ class) —
    # downstream mixture sampling draws by these weights
    tagged = corpus.join(
        curated.select("doc_id").withColumn("__t", F.lit(1)), "doc_id", "left"
    )
    weights = dsir_importance_weights(
        tagged, "text", "doc_id", F.col("__t").isNotNull()
    )
    weights_path = _mart(marts, "importance_weights")
    _, stats["importance_weights"] = _overwrite_and_read(spark, weights, weights_path)

    # 10. tokenizer mart: the BPE merge table learned from the CURATED
    # corpus — the model artifact training jobs collect and ship
    merges = learn_bpe_merges(to_chunk, "text", rounds=6)
    bpe_path = _mart(marts, "bpe_merges")
    _, stats["bpe_merges"] = _overwrite_and_read(spark, merges, bpe_path)

    # 11. reports: DQ constraints on the corpus + curated marts
    report = dq_report([
        check_not_null(corpus, ["doc_id", "text"], table="corpus"),
        check_unique(corpus, ["doc_id"], table="corpus"),
        check_unique(curated, ["doc_id"], table="curated"),
    ])
    report_path = _mart(marts, "dq_report")
    overwrite_path(report, report_path)
    stats["dq_violations"] = int(
        read_mart(spark, report_path).agg(F.sum("violations")).collect()[0][0] or 0
    )
    return stats


# ---------------------------------------------------------------------------
# Run history + drift detection (pipeline observability)
# ---------------------------------------------------------------------------


def record_run(spark: SparkSession, marts: str, stats: dict[str, int]) -> int:
    """Append this run's mart counts to the ``_history`` mart (long format:
    run_id, metric, value) and return the run id. Deterministic — no
    timestamps — so replay tests can assert exact histories; a production
    deployment would add a wall-clock column for dashboards."""
    hist_path = _mart(marts, "_history")
    run_id = 0
    if os.path.exists(hist_path):
        prev = read_mart(spark, hist_path)
        prev_max = prev.agg(F.max("run_id")).collect()[0][0]
        run_id = (int(prev_max) if prev_max is not None else -1) + 1
    rows = [(run_id, k, int(v)) for k, v in sorted(stats.items())]
    from ..sources.sinks import append_to_path

    append_to_path(
        spark.createDataFrame(rows, "run_id int, metric string, value long"), hist_path
    )
    return run_id


def web_ingest_batch(
    spark: SparkSession,
    warc_media: DataFrame,
    marts: str,
    **ingest_kwargs,
) -> dict[str, int]:
    """Web front-end for :func:`ingest_batch`: raw WARC streams →
    response-record pages → canonical-URL dedup → extracted documents →
    the full mart pipeline. The Common-Crawl-shaped path end to end.

    Stage order matters and mirrors production crawls: URL-level dedup
    runs BEFORE text extraction pays for nothing (one representative page
    per canonical URL — min (media_id, record_index), deterministic), and
    content-level dedup (MinHash → components, inside ``ingest_batch``)
    then catches same-text-different-URL mirrors the URL pass cannot see.

    ``doc_id`` is ``xxhash64(canonical_url)`` — stable across re-crawls
    (re-ingesting a page UPSERTS its document instead of duplicating it),
    partition-independent, and collision-odds ~n²/2⁶⁴ (negligible below
    ~10⁹ pages; a 100 TB deployment would widen to a 128-bit digest).
    The ``web_pages`` audit mart records (canonical_url, doc_id,
    media_id, record_index) for provenance joins back to the crawl."""
    from ..operators.webtext import extract_html_text, with_canonical_url
    from ..sources.warc import parse_warc_pages

    pages = parse_warc_pages(warc_media).filter(F.col("parse_status") == "ok")
    pages = with_canonical_url(pages, "target_uri").filter(
        F.col("canonical_url").isNotNull()
    )
    first = first_per_group(pages, "canonical_url", ["media_id", "record_index"])
    docs = first.select(
        F.xxhash64("canonical_url").alias("doc_id"),
        extract_html_text(F.col("html")).alias("text"),
        "canonical_url",
        "media_id",
        "record_index",
    )
    pages_path = _mart(marts, "web_pages")
    upsert_to_path(
        docs.select("canonical_url", "doc_id", "media_id", "record_index"),
        pages_path,
        keys=["canonical_url"],
    )
    stats = ingest_batch(spark, docs.select("doc_id", "text"), marts, **ingest_kwargs)
    stats["web_pages"] = read_mart(spark, pages_path).count()
    return stats
