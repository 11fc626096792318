"""Incremental / streaming layer (SURVEY.md §2.10).

The reference's incrementality is cron + MySQL queue tables + idempotent
upserts: workers lock ≤50 pending rows, process, mark done (T5); the
consolidation targets D-3 so late ads data has settled (T2); finance imports
re-scan a 7-day window and converge by keyed upsert (T3); commented-out
backfill loops reprocess history (T7).

Spark-first restatement:

- queues → a file/Delta streaming source with checkpointing:
  ``read_json_stream`` + ``run_upsert_stream`` (foreachBatch MERGE). The
  checkpoint replaces the status column; at-least-once delivery + idempotent
  keyed upsert = the reference's exact fault-tolerance contract.
- every stream in the package starts here, checkpointed under
  ``Trigger.AvailableNow`` (drain what is pending, then stop: the cron
  model): ``run_batches`` is the one ``foreachBatch`` start (the keyed
  upsert and every pipeline in ``streaming.pipelines`` are built on it),
  ``run_parquet_append`` the one parquet-append file sink.
- allowed lateness → ``withWatermark`` on the event time (T2's D-3 becomes a
  '3 days' watermark on a 1-day tumbling window).
- stateful dedup → ``dropDuplicatesWithinWatermark`` (S10's INSERT IGNORE as
  a stream).
- backfill → parameterized re-runs of the daily batch transform (T7); safe
  because every sink is a keyed upsert.

Scale: state store size is bounded by the watermark horizon × key
cardinality; shuffle partitions govern state-store parallelism, so they are
sized once at stream start (not per-batch).
"""

from __future__ import annotations

from contextlib import contextmanager as _contextmanager

import datetime as dt
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from ..sources.sinks import upsert_to_path


# State-store provider for 100 TB streams: the default HDFS-backed provider
# keeps every key's state in executor HEAP — fine while watermark-horizon ×
# key-cardinality fits in memory, an OOM once it doesn't. RocksDB spills
# state to local disk with changelog checkpointing, so state size is bounded
# by disk, not heap. Result-identical to the default provider (guarded by
# tests/test_streaming_rocksdb.py); set it in the SparkSession BEFORE the
# stream starts — the provider is fixed per query at start and recorded in
# the checkpoint.
ROCKSDB_STATE_CONFS = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    # changelog checkpointing uploads deltas instead of full snapshots —
    # the difference between O(state) and O(changed-keys) per commit
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def read_json_stream(
    spark: SparkSession, path: str, schema: StructType | str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over JSON-lines payload drops (the connector lands
    API pages as files; each file is the reference's "queue batch").
    ``maxFilesPerTrigger`` is the batch-size knob that replaces LIMIT 50."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def daily_rollup_stream(
    events: DataFrame,
    *,
    ts_col: str,
    key_cols: list[str],
    aggs: list,
    watermark: str = "3 days",
) -> DataFrame:
    """T2+T4: 1-day tumbling window with allowed lateness = ``watermark``
    (the reference's D-3 rule: aggregate a day only once ads data settled).
    Emits one row per (day, keys); late rows update the same key via the
    downstream upsert.

    Day boundaries follow the SESSION timezone: ``F.window('1 day')`` tumbles
    on UTC epoch boundaries, which puts an America/Sao_Paulo evening into the
    wrong calendar day — so we quantize event time with ``date_trunc`` (tz-
    aware) and watermark/group on the quantized column, which Spark accepts
    as the event-time attribute."""
    day = F.date_trunc("DAY", F.col(ts_col))
    out = (
        events.withColumn("__day", day)
        .withWatermark("__day", watermark)
        .groupBy(F.col("__day"), *key_cols)
        .agg(*aggs)
    )
    rest = [c for c in out.columns if c != "__day"]
    return out.select(F.to_date(F.col("__day")).alias("event_date"), *rest)


def dedup_stream(events: DataFrame, keys: list[str], ts_col: str, watermark: str = "1 day") -> DataFrame:
    """S10 as a stream: keyed insert-if-absent with state bounded by the
    watermark horizon."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def run_batches(
    stream_df: DataFrame,
    checkpoint_dir: str,
    process: Callable[[DataFrame, int], None],
    *,
    output_mode: str = "append",
) -> StreamingQuery:
    """The one ``foreachBatch`` start (T5's lock → process → mark done):
    every micro-batch that holds rows goes to ``process(batch_df,
    batch_id)``, Spark's own signature, so ``idempotent_foreach_batch`` can
    wrap it; an empty micro-batch never reaches it. A batch is committed to
    the checkpoint only after ``process`` returns, so an exception fails the
    query and a re-run on the same checkpoint redelivers the batch
    (at-least-once; keyed sinks make the replay converge)."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            process(batch_df, batch_id)

    return _start(
        stream_df.writeStream.outputMode(output_mode).foreachBatch(_batch), checkpoint_dir
    )


def run_parquet_append(stream_df: DataFrame, target_path: str, checkpoint_dir: str) -> StreamingQuery:
    """Append-mode parquet file sink: each row lands once, when the stream
    finalizes it (for a watermarked join, once the watermark closes it). The
    file sink's own commit log keeps a redelivered batch from landing twice."""
    return _start(
        stream_df.writeStream.format("parquet").option("path", target_path).outputMode("append"),
        checkpoint_dir,
    )


def _start(writer: DataStreamWriter, checkpoint_dir: str) -> StreamingQuery:
    """Checkpointed ``Trigger.AvailableNow``: drain the pending input, then
    stop — the cron-batch execution model; the next run resumes from the
    checkpoint."""
    return writer.option("checkpointLocation", checkpoint_dir).trigger(availableNow=True).start()


def run_upsert_stream(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
    *,
    order_by: list | None = None,
    output_mode: str = "update",
) -> StreamingQuery:
    """foreachBatch + keyed MERGE: every micro-batch upserts into the target
    (idempotent under replay — the reference's ON DUPLICATE KEY UPDATE
    contract, T5).

    Update mode re-emits an aggregate whenever a batch changes it (append
    would hold rows until the watermark closes the window); the keyed upsert
    makes the re-emission idempotent. Session-window aggregations only
    support append (emit-on-close): each closed session reaches the MERGE
    sink exactly once."""
    return run_batches(
        stream_df,
        checkpoint_dir,
        lambda batch_df, _: upsert_to_path(batch_df, target_path, keys, order_by),
        output_mode=output_mode,
    )


def backfill(
    dates: Iterable[dt.date | str],
    run_day: Callable[[dt.date | str], DataFrame],
    sink: Callable[[DataFrame], None],
) -> int:
    """T7: reprocess a date range through a daily batch transform. Safe to
    re-run because every sink is a keyed upsert (idempotent convergence)."""
    n = 0
    for d in dates:
        sink(run_day(d))
        n += 1
    return n


def session_stream(
    events: DataFrame,
    *,
    ts_col: str,
    key_cols: list[str],
    aggs: list,
    gap: str = "30 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming sessionization: the stateful counterpart of
    ``operators.sessions`` — ``session_window`` merges events into
    data-dependent sessions per key, closing a session once the watermark
    passes its end + gap. State is bounded by the watermark horizon; an
    out-of-order event inside the horizon re-opens and MERGES sessions,
    and the downstream keyed upsert (update mode) re-emits the merged row.
    Emits (session_start, session_end, *keys, *aggs); ``session_end`` is
    last-event-time + gap per Spark's session-window contract."""
    out = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), *key_cols)
        .agg(*aggs)
    )
    rest = [c for c in out.columns if c != "session_window"]
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *rest,
    )


@_contextmanager
def stream_shuffle_partitions(spark, n: int):
    """Temporarily size ``spark.sql.shuffle.partitions`` for a streaming
    run. Stateful operators instantiate one state-store per shuffle
    partition PER TRIGGER, so the right number tracks the stream's state
    volume, not the core count — measured at sf0.1/local[32]: the
    stream-stream attribution join runs 13.7s with 32 state partitions
    and 3.5s with 8; the r9 A/B/A sweep over the three heaviest executed
    rows measured totals 29-39s at 8, 33-42s at 4, and 14-15s at 2 —
    per-trigger store commit/maintenance is the wall, so the catalog rows
    run 2 (state at bench SF is a few thousand keys). On a real cluster
    this is the same knob, sized to keyspace × state size. The previous
    value is restored on exit; the partition count is baked into the
    checkpoint at first trigger, so set it BEFORE ``start()``."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def idempotent_foreach_batch(sink, marker_dir: str, *, query_key: str | None = None):
    """Batch-id journal for NON-idempotent foreachBatch sinks: skip a batch
    whose marker exists, write the marker only AFTER the sink succeeds.

    Structured Streaming guarantees at-least-once delivery to
    ``foreachBatch``: after a crash between sink success and checkpoint
    commit, the SAME (batch_id, data) is redelivered. Keyed-upsert sinks
    absorb that (replay converges); for others the journal upgrades the
    guarantee — with two contracts the caller owns:

    - **The journal gives exactly-once only for sinks whose per-batch
      effect is ATOMIC** (all-or-nothing: a transaction, a staging-dir
      rename, an overwrite). A multi-file append that crashes MID-write
      leaves partial output with no marker, and the redelivered batch
      re-appends everything — duplicates. For such sinks this wrapper
      reduces duplication to the crash window but cannot eliminate it;
      use the keyed-upsert sinks for true convergence.
    - **Marker identity = (marker_dir, query_key, batch_id), and batch
      ids restart at 0 when the stream's checkpoint is reset.** The
      marker_dir must live and DIE with the checkpoint dir (delete both
      together), and two queries must never share a (marker_dir,
      query_key) — otherwise a fresh stream finds stale markers and
      silently drops its first batches. Pass a distinct ``query_key``
      when several journaled sinks share one directory.

    The marker write is the commit point: a crash before it re-runs the
    sink, a crash after it never re-runs."""
    import os as _os

    prefix = f"{query_key}_" if query_key else ""

    def wrapped(batch_df, batch_id: int) -> None:
        _os.makedirs(marker_dir, exist_ok=True)
        marker = _os.path.join(marker_dir, f"{prefix}batch_{batch_id:020d}.done")
        if _os.path.exists(marker):
            return  # redelivered after a post-sink crash: already applied
        sink(batch_df, batch_id)
        with open(marker, "w") as fh:
            fh.write("committed\n")

    return wrapped
