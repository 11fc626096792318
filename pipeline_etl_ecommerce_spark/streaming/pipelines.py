"""Streaming versions of the domain pipelines (SURVEY.md §2.10 T5 → native).

The reference's traffic queue (producer INSERT IGNORE → worker batch claim →
API fetch → upsert) becomes one checkpointed stream: task drops land as
JSON-lines files, each micro-batch joins them against the payload tables and
MERGEs into ``trafego_diario``. The checkpoint replaces the status lifecycle
entirely — a crashed run resumes from the last committed batch, and the
keyed upsert makes redelivery idempotent (the reference's exact
at-least-once + idempotent-write contract, minus the stranded
'processando' rows it leaks on crash; SURVEY §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.traffic import process_traffic_tasks
from ..sources.sinks import read_mart, upsert_to_path
from .runner import read_json_stream, run_batches, run_parquet_append

TASK_SCHEMA = "id bigint, id_anuncio string, data_metrica date"


def traffic_stream(
    spark: SparkSession,
    task_dir: str,
    visits: DataFrame,
    ads_metrics: DataFrame,
    target_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Consume traffic-task drops as a stream; each micro-batch runs the
    worker transform (J9 day-matched visits + ads metric defaults) and
    upserts the daily traffic mart keyed (id_anuncio, data_metrica)."""
    tasks = read_json_stream(spark, task_dir, TASK_SCHEMA)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = process_traffic_tasks(batch_df, visits, ads_metrics)
        upsert_to_path(out, target_path, ["id_anuncio", "data_metrica"])

    return run_batches(tasks, checkpoint_dir, _process)


STOCK_TASK_SCHEMA = "id bigint, sku string, id_produto_tiny bigint, data_snapshot date"
CATALOG_TASK_SCHEMA = "id bigint, id_produto_tiny bigint"


def inventory_stream(
    spark: SparkSession,
    task_dir: str,
    tiny_stock: DataFrame,
    mapa: DataFrame,
    listings: DataFrame,
    inventory_stock: DataFrame,
    target_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Inventory queue as a stream (reference ``worker_processar_estoque``):
    each micro-batch of (sku, day) tasks resolves Tiny warehouse balances and
    the fulfillment-stock chain, upserting ``estoque_diario``."""
    from ..plans.inventory import process_stock_tasks

    tasks = read_json_stream(spark, task_dir, STOCK_TASK_SCHEMA)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = process_stock_tasks(batch_df, tiny_stock, mapa, listings, inventory_stock)
        upsert_to_path(out, target_path, ["sku", "data_snapshot"])

    return run_batches(tasks, checkpoint_dir, _process)


DOC_SCHEMA = "doc_id bigint, text string"


def document_ingest_stream(
    spark: SparkSession,
    drop_dir: str,
    corpus_path: str,
    signature_mart_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    *,
    k: int = 5,
    num_hashes: int = 4,
    bands: int = 2,
) -> StreamingQuery:
    """Streaming corpus ingest with INCREMENTAL near-dup detection — the
    100 TB shape of the MinHash pipeline wired into Structured Streaming.

    Per micro-batch of document drops:
    1. upsert the docs into the corpus mart (re-delivery idempotent);
    2. hash ONLY the batch and upsert its band keys into the signature mart
       (``update_signature_mart`` — doc_id × band keyed);
    3. join the batch's band keys against the WHOLE mart
       (``incremental_candidate_pairs``) and upsert the new candidate pairs.

    Every new doc is therefore paired against the entire historical corpus
    at delta × mart cost, and the pair mart converges to exactly what a
    full-corpus LSH recompute would produce (the composition invariant
    asserted by tests/test_incremental_minhash.py)."""
    from ..operators.dedupe import incremental_candidate_pairs, update_signature_mart

    docs = read_json_stream(spark, drop_dir, DOC_SCHEMA)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates(["doc_id"])
        upsert_to_path(batch, corpus_path, ["doc_id"])
        delta_bk = update_signature_mart(
            batch, signature_mart_path, "text", "doc_id", k=k, num_hashes=num_hashes, bands=bands
        )
        mart = read_mart(spark, signature_mart_path)
        new_pairs = incremental_candidate_pairs(mart, delta_bk)
        upsert_to_path(new_pairs, pairs_path, ["doc_a", "doc_b"])

    return run_batches(docs, checkpoint_dir, _process)


def catalog_stream(
    spark: SparkSession,
    task_dir: str,
    details: DataFrame,
    catalog_path: str,
    outcomes_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Catalog queue as a stream (reference ``worker_sincronizar_catalogo``):
    per micro-batch, valid detail payloads upsert ``produtos_catalogo`` and
    every task's outcome (concluido / erro + mensagem) lands in an outcomes
    mart — the durable replacement for the reference's status columns."""
    from ..plans.catalog import process_catalog_tasks

    tasks = read_json_stream(spark, task_dir, CATALOG_TASK_SCHEMA)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        catalog_rows, outcomes = process_catalog_tasks(batch_df, details)
        upsert_to_path(catalog_rows, catalog_path, ["sku"])
        upsert_to_path(outcomes, outcomes_path, ["id"])

    return run_batches(tasks, checkpoint_dir, _process)


def training_sequence_stream(
    spark: SparkSession,
    drop_dir: str,
    sequences_path: str,
    checkpoint_dir: str,
    *,
    chunk_size: int = 64,
    stride: int | None = None,
) -> StreamingQuery:
    """Streaming corpus → training-sequence emission: each micro-batch of
    document drops is chunked into fixed token windows
    (``operators.chunking``) and written with per-document REPLACE
    semantics (``replace_groups_to_path`` on doc_id): a redelivered
    document's entire chunk set is swapped for the re-chunked one, so the
    mart stays exactly-once under the at-least-once file source even when
    the redelivered text is SHORTER and produces fewer chunks — a plain
    (doc_id, chunk_index) upsert would leave the old tail chunks behind
    (ADVICE r1). The chunker itself is stateless map-only work, so the
    stream needs no watermark or state store."""
    from ..operators.chunking import chunk_documents
    from ..sources.sinks import replace_groups_to_path

    docs = read_json_stream(spark, drop_dir, DOC_SCHEMA)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        chunks = chunk_documents(
            batch_df.dropDuplicates(["doc_id"]), "text", "doc_id",
            chunk_size=chunk_size, stride=stride,
        )
        replace_groups_to_path(chunks, sequences_path, ["doc_id"])

    return run_batches(docs, checkpoint_dir, _process)


EVENT_LOG_SCHEMA = "event_id bigint, user_id bigint, event_type string, ts bigint"


def scd2_maintenance_stream(
    spark: SparkSession,
    drop_dir: str,
    log_path: str,
    history_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """CDC-style incremental SCD2 maintenance: keep a type-2 interval
    history (``operators.scd.scd2_from_log``) continuously up to date as
    change events stream in.

    Per micro-batch:
    1. upsert the batch into the raw change log keyed on event_id —
       redelivery idempotent (at-least-once source → exactly-once log);
    2. rebuild SCD2 intervals ONLY for the keys touched by the batch
       (semi-join scopes the log scan to those keys — cost is
       O(touched keys' history), not O(log));
    3. swap those keys' ENTIRE interval sets into the history mart
       (``replace_groups_to_path``): a run that shrinks or merges
       intervals leaves no stale rows, and late/out-of-order events are
       handled for free because the per-key rebuild is order-insensitive.

    The history mart therefore always equals ``scd2_from_log`` over the
    full log — the same delta-vs-recompute composition invariant the
    incremental MinHash mart proves (tests assert it after out-of-order
    and redelivered batches)."""
    from ..operators.scd import scd2_from_log
    from ..sources.sinks import replace_groups_to_path

    events = read_json_stream(spark, drop_dir, EVENT_LOG_SCHEMA)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates(["event_id"])
        upsert_to_path(batch, log_path, ["event_id"])
        log = read_mart(spark, log_path)
        touched = batch.select("user_id").distinct()
        scoped = log.join(touched, "user_id", "semi")
        hist = scd2_from_log(
            scoped, ["user_id"], "event_type", "ts", tiebreak_cols=["event_id"]
        )
        replace_groups_to_path(hist, history_path, ["user_id"])

    return run_batches(events, checkpoint_dir, _process)


CLICK_SCHEMA = "click_id bigint, user_id bigint, ts bigint"
PURCHASE_SCHEMA = "purchase_id bigint, user_id bigint, ts bigint"


def click_attribution_join_stream(
    spark: SparkSession,
    clicks_dir: str,
    purchases_dir: str,
    target_path: str,
    checkpoint_dir: str,
    *,
    attribution_window: str = "1 hour",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream-stream interval join: attribute each purchase to every click
    by the same user within the preceding ``attribution_window`` — the
    streaming form of the batch as-of/range join family
    (operators/asof.py), with Spark managing the two-sided join state.

    Both sides carry an event-time watermark plus the time-bound join
    condition, so the state store evicts a buffered row as soon as the
    other side's watermark passes its join horizon — bounded state at any
    throughput, and a click that arrives in a LATER trigger still joins a
    purchase buffered from an earlier one (state survives restarts via the
    checkpoint). Emits append-only to a parquet sink: matched
    (purchase, click) rows become immutable facts the moment the watermark
    closes them."""
    clicks = (
        read_json_stream(spark, clicks_dir, CLICK_SCHEMA, max_files_per_trigger=max_files_per_trigger)
        .withColumn("click_time", F.expr("timestamp_micros(ts)"))
        .withWatermark("click_time", watermark)
        .select("click_id", F.col("user_id").alias("c_user_id"), "click_time")
    )
    purchases = (
        read_json_stream(spark, purchases_dir, PURCHASE_SCHEMA, max_files_per_trigger=max_files_per_trigger)
        .withColumn("purchase_time", F.expr("timestamp_micros(ts)"))
        .withWatermark("purchase_time", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"user_id = c_user_id"
            f" AND click_time >= purchase_time - INTERVAL {attribution_window}"
            f" AND click_time <= purchase_time"
        ),
        "inner",
    ).select("purchase_id", "click_id", "user_id", "purchase_time", "click_time")
    return run_parquet_append(joined, target_path, checkpoint_dir)


def click_conversion_outer_stream(
    spark: SparkSession,
    clicks_dir: str,
    purchases_dir: str,
    target_path: str,
    checkpoint_dir: str,
    *,
    conversion_window: str = "24 hours",
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream-stream LEFT OUTER interval join: every click is attributed to
    each same-user purchase within the following ``conversion_window`` — or
    emitted once with NULL purchase columns as a proven non-conversion.

    The outer side makes the watermark LOAD-BEARING for results, not just
    for state eviction: an unmatched click can only be declared unmatched
    once BOTH watermarks pass its join horizon (otherwise a matching
    purchase might still arrive), so null rows surface one-or-more
    micro-batches AFTER the horizon closes. Callers draining finite input
    with Trigger.AvailableNow must push the watermark past the last real
    horizon and then run at least one more batch — in practice: land
    far-future sentinel rows on BOTH sides as two separate trigger files,
    run again on the same checkpoint, and the second sentinel batch flushes
    the withheld non-conversions (the catalog's executed query does exactly
    this). State stays bounded exactly as in the inner join."""
    clicks = (
        read_json_stream(spark, clicks_dir, CLICK_SCHEMA, max_files_per_trigger=max_files_per_trigger)
        .withColumn("click_time", F.expr("timestamp_micros(ts)"))
        .withWatermark("click_time", watermark)
        .select("click_id", "user_id", "click_time")
    )
    purchases = (
        read_json_stream(spark, purchases_dir, PURCHASE_SCHEMA, max_files_per_trigger=max_files_per_trigger)
        .withColumn("purchase_time", F.expr("timestamp_micros(ts)"))
        .withWatermark("purchase_time", watermark)
        .select("purchase_id", F.col("user_id").alias("p_user_id"), "purchase_time")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"user_id = p_user_id"
            f" AND purchase_time >= click_time"
            f" AND purchase_time <= click_time + INTERVAL {conversion_window}"
        ),
        "leftOuter",
    ).select("click_id", "user_id", "click_time", "purchase_id", "purchase_time")
    return run_parquet_append(joined, target_path, checkpoint_dir)


def corpus_pipeline_stream(
    spark: SparkSession,
    drop_dir: str,
    marts: str,
    checkpoint_dir: str,
    *,
    chunk_size: int = 32,
    pack_budget: int = 64,
    n_shards: int = 4,
) -> StreamingQuery:
    """The full corpus pipeline as a stream: every micro-batch of document
    drops runs ``plans.corpus_pipeline.ingest_batch`` — delta-scoped
    signature hashing and delta × mart pair detection, then the global
    curation/sequence/pack/shard refresh — so the training-data marts
    continuously converge as documents arrive. ingest_batch's sinks are
    all idempotent keyed merges, which is exactly the at-least-once
    foreachBatch contract; a redelivered batch is a no-op."""
    from ..plans.corpus_pipeline import ingest_batch

    docs = read_json_stream(spark, drop_dir, DOC_SCHEMA)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            spark,
            batch_df,
            marts,
            chunk_size=chunk_size,
            pack_budget=pack_budget,
            n_shards=n_shards,
        )

    return run_batches(docs, checkpoint_dir, _process)
