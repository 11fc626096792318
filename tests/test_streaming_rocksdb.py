"""RocksDB state-store provider guard: the 100 TB state-store choice
(`streaming/runner.ROCKSDB_STATE_CONFS`) must be result-identical to the
default HDFS-backed provider for the engine's stateful patterns — watermarked
dedup and windowed aggregation — run as REAL streams over the same drops."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import tempfile

from pyspark.sql.types import StructType

from pipeline_etl_ecommerce_spark.streaming.runner import (
    ROCKSDB_STATE_CONFS,
    dedup_stream,
    read_json_stream,
)


def _run_dedup(spark, provider_confs: dict[str, str]) -> set[tuple]:
    """Run dropDuplicatesWithinWatermark over overlapping drops under the
    given state-store confs; return the deduped row set."""
    old = {}
    for k, v in provider_confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    base = tempfile.mkdtemp(prefix="rocks_")
    drops = os.path.join(base, "in")
    target = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(drops)
    try:
        t0 = dt.datetime(2025, 8, 10, 12, 0, 0)
        # two files with overlapping event_ids — the at-least-once overlap
        for fname, ids in (("b1.json", range(0, 60)), ("b2.json", range(40, 100))):
            with open(os.path.join(drops, fname), "w") as fh:
                for i in ids:
                    ts = (t0 + dt.timedelta(minutes=i)).strftime("%Y-%m-%d %H:%M:%S")
                    fh.write(json.dumps({"event_id": i, "ts": ts, "v": i * 2}) + "\n")
        schema = StructType.fromDDL("event_id bigint, ts timestamp, v bigint")
        stream = read_json_stream(spark, drops, schema, max_files_per_trigger=1)
        deduped = dedup_stream(stream, ["event_id"], "ts", watermark="1 day")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not finish"
        return {(r["event_id"], r["v"]) for r in spark.read.parquet(target).collect()}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rocksdb_provider_matches_default_provider(spark):
    default = _run_dedup(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
            )
        },
    )
    rocks = _run_dedup(spark, ROCKSDB_STATE_CONFS)
    assert rocks == default
    assert len(rocks) == 100  # exactly-once despite the 20-id overlap


def test_fold_running_totals_split_invariant():
    """The executed applyInPandasWithState row (streaming_stateful_totals)
    folds per-key state with fold_running_totals: any split of a key's rows
    into micro-batches, and of a micro-batch into frames, converges to the
    same (count, cents) as one pass over all of them."""
    import pandas as pd

    from pipeline_etl_ecommerce_spark.streaming.stateful import fold_running_totals

    rows = [(i * 13) % 100 for i in range(50)]
    whole = fold_running_totals(None, [pd.DataFrame({"cents": rows})])
    split = fold_running_totals(
        fold_running_totals(None, [pd.DataFrame({"cents": rows[:17]})]),
        [pd.DataFrame({"cents": rows[17:40]}), pd.DataFrame({"cents": rows[40:]})],
    )
    assert whole == split == (50, sum(rows))
