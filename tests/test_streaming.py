"""Streaming/incremental layer tests (SURVEY.md §2.10): file-source streams,
watermarked daily rollups, checkpointed idempotent upsert sinks, stateful
dedup, backfill."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.streaming.runner import (
    backfill,
    daily_rollup_stream,
    dedup_stream,
    read_json_stream,
    run_upsert_stream,
)

SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def test_pipelines_import_without_a_session():
    """The worker streams' task schemas are DDL strings, parsed when a stream
    reads them, so importing the module needs no Spark session."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", "import pipeline_etl_ecommerce_spark.streaming.pipelines"],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]


def _write_batch(path, name, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_daily_rollup_upsert(spark, tmp_path):
    src = str(tmp_path / "in")
    target = str(tmp_path / "mart")
    ckpt1 = str(tmp_path / "ckpt1")

    _write_batch(
        src,
        "b1.json",
        [
            {"event_id": 1, "ts": "2025-08-01T10:00:00", "user_id": 1, "value": 10.0},
            {"event_id": 2, "ts": "2025-08-01T11:00:00", "user_id": 1, "value": 5.0},
            {"event_id": 3, "ts": "2025-08-02T09:00:00", "user_id": 2, "value": 7.0},
        ],
    )
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(SCHEMA)
    stream = read_json_stream(spark, src, schema)
    assert stream.isStreaming
    rolled = daily_rollup_stream(
        stream,
        ts_col="ts",
        key_cols=["user_id"],
        aggs=[F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")],
        watermark="3 days",
    )
    q = run_upsert_stream(rolled, target, ["event_date", "user_id"], ckpt1)
    q.awaitTermination(120)

    got = {(str(r["event_date"]), r["user_id"]): (r["n"], r["total"]) for r in spark.read.parquet(target).collect()}
    assert got == {("2025-08-01", 1): (2, 15.0), ("2025-08-02", 2): (1, 7.0)}

    # late-arriving row for 08-01 in a second batch: checkpoint resumes, the
    # keyed upsert converges the same mart key instead of duplicating it
    _write_batch(src, "b2.json", [{"event_id": 4, "ts": "2025-08-01T12:00:00", "user_id": 1, "value": 1.0}])
    q2 = run_upsert_stream(
        daily_rollup_stream(
            read_json_stream(spark, src, schema),
            ts_col="ts",
            key_cols=["user_id"],
            aggs=[F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")],
            watermark="3 days",
        ),
        target,
        ["event_date", "user_id"],
        ckpt1,
    )
    q2.awaitTermination(120)
    got2 = {(str(r["event_date"]), r["user_id"]): (r["n"], r["total"]) for r in spark.read.parquet(target).collect()}
    # watermark state kept the day open; the updated aggregate replaced the old row
    assert got2[("2025-08-01", 1)] == (3, 16.0)
    assert len(got2) == 2


def test_dedup_stream_drops_repeated_keys(spark, tmp_path):
    src = str(tmp_path / "in2")
    out_dir = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    _write_batch(
        src,
        "b1.json",
        [
            {"event_id": 1, "ts": "2025-08-01T10:00:00", "user_id": 1, "value": 1.0},
            {"event_id": 1, "ts": "2025-08-01T10:05:00", "user_id": 1, "value": 2.0},
            {"event_id": 2, "ts": "2025-08-01T10:06:00", "user_id": 2, "value": 3.0},
        ],
    )
    from pyspark.sql.types import StructType

    stream = read_json_stream(spark, src, StructType.fromDDL(SCHEMA))
    deduped = dedup_stream(stream, ["event_id"], "ts")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]


def test_backfill_runner(spark, tmp_path):
    target = str(tmp_path / "bf")
    days = [dt.date(2025, 8, d) for d in (1, 2, 3)]

    def run_day(d):
        return spark.createDataFrame([(str(d), 1)], "day string, v int")

    from pipeline_etl_ecommerce_spark.sources.sinks import upsert_to_path

    n = backfill(days, run_day, lambda df: upsert_to_path(df, target, ["day"]))
    assert n == 3
    # re-run converges (idempotent)
    backfill(days, run_day, lambda df: upsert_to_path(df, target, ["day"]))
    assert spark.read.parquet(target).count() == 3


def test_traffic_stream_pipeline(spark, tmp_path):
    """Queue-as-stream: task file drops -> worker transform per micro-batch ->
    idempotent mart upsert; resume from checkpoint on the second drop."""
    import datetime as dt

    from pipeline_etl_ecommerce_spark.streaming.pipelines import traffic_stream

    D = "2025-08-10"
    task_dir = str(tmp_path / "tasks")
    mart = str(tmp_path / "trafego")
    ckpt = str(tmp_path / "ckpt_t")
    os.makedirs(task_dir)

    visits = spark.createDataFrame(
        [("MLB1", [{"date": D + "T00:00:00Z", "total": 42}])],
        "id_anuncio string, results array<struct<date:string,total:int>>",
    )
    ads = spark.createDataFrame(
        [("MLB1", dt.date(2025, 8, 10), 10, 100, 5.5, 3, 200.0, 7)],
        "id_anuncio string, data_metrica date, clicks int, prints int, cost double, units_quantity int, total_amount double, organic_items_quantity int",
    )

    def drop(name, rows):
        with open(os.path.join(task_dir, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    drop("b1.json", [{"id": 1, "id_anuncio": "MLB1", "data_metrica": D}])
    traffic_stream(spark, task_dir, visits, ads, mart, ckpt).awaitTermination(120)
    got = {r["id_anuncio"]: r.asDict() for r in spark.read.parquet(mart).collect()}
    assert got["MLB1"]["visitas_totais"] == 42 and got["MLB1"]["cliques_ads"] == 10

    # second drop: new task + a REPLAY of task 1 -> resume, converge, no dups
    drop("b2.json", [
        {"id": 1, "id_anuncio": "MLB1", "data_metrica": D},
        {"id": 2, "id_anuncio": "MLB2", "data_metrica": D},
    ])
    traffic_stream(spark, task_dir, visits, ads, mart, ckpt).awaitTermination(120)
    rows = spark.read.parquet(mart).collect()
    assert len(rows) == 2  # MLB1 converged (no duplicate), MLB2 added with zero defaults
    got2 = {r["id_anuncio"]: r.asDict() for r in rows}
    assert got2["MLB2"]["visitas_totais"] == 0 and got2["MLB1"]["visitas_totais"] == 42


def test_document_ingest_stream_incremental_near_dup(spark, tmp_path):
    """Streaming corpus ingest: each micro-batch hashes only its docs,
    upserts the signature mart, and pairs the delta against the WHOLE
    historical corpus — cross-batch near-dups must surface."""
    from pipeline_etl_ecommerce_spark.streaming.pipelines import document_ingest_stream

    drop_dir = str(tmp_path / "drops")
    corpus = str(tmp_path / "corpus")
    sig_mart = str(tmp_path / "sigs")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt_d")
    os.makedirs(drop_dir)

    def drop(name, rows):
        with open(os.path.join(drop_dir, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    args = (spark, drop_dir, corpus, sig_mart, pairs, ckpt)
    drop("d1.json", [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 2, "text": "completamente diferente texto sobre otra cosa"},
    ])
    document_ingest_stream(*args).awaitTermination(120)
    assert spark.read.parquet(corpus).count() == 2
    assert spark.read.parquet(sig_mart).count() == 2 * 2  # 2 docs x 2 bands
    assert not os.path.exists(pairs) or spark.read.parquet(pairs).count() == 0

    # second drop: a near-dup of doc 1 plus a replay of doc 2
    drop("d2.json", [
        {"doc_id": 3, "text": "the quick brown fox jumps over the lazy cat"},
        {"doc_id": 2, "text": "completamente diferente texto sobre otra cosa"},
    ])
    document_ingest_stream(*args).awaitTermination(120)
    assert spark.read.parquet(corpus).count() == 3  # replay converged
    assert spark.read.parquet(sig_mart).count() == 3 * 2
    got = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(pairs).collect()}
    assert (1, 3) in got  # CROSS-BATCH near-dup found at delta x mart cost
    assert not any(2 in p for p in got)  # unrelated doc pairs with nothing


def test_inventory_and_catalog_streams(spark, tmp_path):
    from pipeline_etl_ecommerce_spark.streaming.pipelines import catalog_stream, inventory_stream
    from pipeline_etl_ecommerce_spark import schemas

    # --- inventory stream ---
    tdir = str(tmp_path / "stock_tasks")
    os.makedirs(tdir)
    with open(os.path.join(tdir, "b1.json"), "w") as f:
        f.write(json.dumps({"id": 1, "sku": "SKU-1", "id_produto_tiny": 1, "data_snapshot": "2025-08-10"}) + "\n")
    tiny = spark.createDataFrame(
        [("SKU-1", [{"deposito": {"nome": "Geral", "saldo": 9.0}}])],
        "sku string, depositos array<struct<deposito:struct<nome:string,saldo:double>>>",
    )
    mapa = spark.createDataFrame([], schemas.MAPA_PRODUTOS_ANUNCIOS)
    listings = spark.createDataFrame([], schemas.MELI_LISTING)
    inv = spark.createDataFrame([], "inventory_id string, total int")
    inventory_stream(
        spark, tdir, tiny, mapa, listings, inv, str(tmp_path / "estoque"), str(tmp_path / "ckpt_i")
    ).awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "estoque")).collect()
    assert len(rows) == 1 and rows[0]["estoque_geral_tiny"] == 9 and rows[0]["estoque_full_ml"] == 0

    # --- catalog stream ---
    cdir = str(tmp_path / "cat_tasks")
    os.makedirs(cdir)
    with open(os.path.join(cdir, "b1.json"), "w") as f:
        f.write(json.dumps({"id": 1, "id_produto_tiny": 10}) + "\n")
        f.write(json.dumps({"id": 2, "id_produto_tiny": 99}) + "\n")
    details = spark.createDataFrame(
        [(10, "OK", None, "SKU-X", None, "Prod X", None, "3,00")],
        "id_produto_tiny long, status string, erro string, sku string, codigo string, nome string, gtin string, preco_custo string",
    )
    catalog_stream(
        spark, cdir, details, str(tmp_path / "cat"), str(tmp_path / "outcomes"), str(tmp_path / "ckpt_c")
    ).awaitTermination(120)
    cat = {r["sku"]: r["custo_produto"] for r in spark.read.parquet(str(tmp_path / "cat")).collect()}
    outcomes = {r["id"]: r["status"] for r in spark.read.parquet(str(tmp_path / "outcomes")).collect()}
    assert cat == {"SKU-X": 3.0}
    assert outcomes == {1: "concluido", 2: "erro"}


def test_session_stream_merges_and_splits(spark, tmp_path):
    """Append-mode session windows: state persists across availableNow
    restarts via the checkpoint; a bridging event MERGES two open sessions;
    sessions emit exactly once when the watermark passes their end."""
    from pipeline_etl_ecommerce_spark.streaming.runner import session_stream

    src = str(tmp_path / "sess_in")
    target = str(tmp_path / "sess_mart")
    ckpt = str(tmp_path / "sess_ckpt")
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(SCHEMA)

    def run():
        stream = read_json_stream(spark, src, schema)
        sess = session_stream(
            stream,
            ts_col="ts",
            key_cols=["user_id"],
            aggs=[F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")],
            gap="30 minutes",
            watermark="1 day",
        )
        q = run_upsert_stream(
            sess, target, ["user_id", "session_start"], ckpt, output_mode="append"
        )
        q.awaitTermination(120)

    _write_batch(
        src,
        "b1.json",
        [
            {"event_id": 1, "ts": "2025-08-01T10:00:00", "user_id": 1, "value": 1.0},
            {"event_id": 2, "ts": "2025-08-01T10:10:00", "user_id": 1, "value": 2.0},
            # > 30 min idle -> a second open session for user 1
            {"event_id": 3, "ts": "2025-08-01T11:00:00", "user_id": 1, "value": 4.0},
            {"event_id": 4, "ts": "2025-08-01T10:00:00", "user_id": 2, "value": 8.0},
        ],
    )
    run()
    # watermark (max 11:00 - 1 day) is far before any session end: all
    # sessions still open, append emits nothing yet
    import os

    assert not os.path.exists(target) or not [
        f for f in os.listdir(target) if f.endswith(".parquet")
    ]

    # batch 2: 10:35 bridges user 1's sessions (within gap of both event 2
    # and event 3) -> merge into ONE session; the sentinel event two days
    # later advances the watermark so every real session closes and emits.
    _write_batch(
        src,
        "b2.json",
        [
            {"event_id": 5, "ts": "2025-08-01T10:35:00", "user_id": 1, "value": 16.0},
            {"event_id": 99, "ts": "2025-08-03T00:00:00", "user_id": 999, "value": 0.0},
        ],
    )
    run()
    # render session-tz wall-clock via date_format: collect() would convert
    # through the DRIVER's os timezone, not spark.sql.session.timeZone
    rows = {
        (r.user_id, r.s): (r.n, r.total, r.e)
        for r in spark.read.parquet(target)
        .filter(F.col("user_id") != 999)
        .select(
            "user_id", "n", "total",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("s"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("e"),
        )
        .collect()
    }
    assert rows == {
        (1, "2025-08-01 10:00:00"): (4, 23.0, "2025-08-01 11:30:00"),
        (2, "2025-08-01 10:00:00"): (1, 8.0, "2025-08-01 10:30:00"),
    }


def test_training_sequence_stream_chunks_idempotently(spark, tmp_path):
    """Streaming chunk emission: drops are chunked per micro-batch and the
    sequences mart gets per-document REPLACE semantics — a redelivered doc
    swaps its entire chunk set, so even a SHORTER redelivery (fewer chunks
    than before) leaves no stale tail chunks behind."""
    from pipeline_etl_ecommerce_spark.streaming.pipelines import training_sequence_stream

    drop_dir = str(tmp_path / "drops")
    seqs = str(tmp_path / "seqs")
    ckpt = str(tmp_path / "ckpt_ts")
    os.makedirs(drop_dir)

    def drop(name, rows):
        with open(os.path.join(drop_dir, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    args = (spark, drop_dir, seqs, ckpt)
    drop("b1.json", [
        {"doc_id": 1, "text": " ".join(f"t{i}" for i in range(10))},  # 3 chunks @ size 4
        {"doc_id": 2, "text": "a b"},  # 1 chunk
    ])
    training_sequence_stream(*args, chunk_size=4).awaitTermination(120)
    out = spark.read.parquet(seqs)
    assert out.count() == 4
    assert {r["chunk_index"] for r in out.filter(out.doc_id == 1).collect()} == {0, 1, 2}

    # redeliver doc 1 with genuinely SHORTER text (10 -> 5 tokens, 3 -> 2
    # chunks) + a new doc: the old chunk_index=2 row must be GONE, not
    # merely overwritten at matching indexes
    drop("b2.json", [
        {"doc_id": 1, "text": " ".join(f"t{i}" for i in range(5))},
        {"doc_id": 3, "text": "x y z"},
    ])
    training_sequence_stream(*args, chunk_size=4).awaitTermination(120)
    out2 = spark.read.parquet(seqs)
    assert {r["chunk_index"] for r in out2.filter(out2.doc_id == 1).collect()} == {0, 1}
    assert out2.filter(out2.doc_id == 2).count() == 1  # untouched group survives
    assert out2.filter(out2.doc_id == 3).count() == 1
    assert out2.count() == 4

    # byte-identical redelivery stays idempotent too
    drop("b3.json", [{"doc_id": 3, "text": "x y z"}])
    training_sequence_stream(*args, chunk_size=4).awaitTermination(120)
    out3 = spark.read.parquet(seqs)
    assert out3.filter(out3.doc_id == 3).count() == 1
    assert out3.count() == 4


def test_scd2_maintenance_stream_incremental_equals_recompute(spark, tmp_path):
    """CDC-style SCD2 maintenance: the history mart must equal a full
    scd2_from_log recompute over the raw log after in-order batches,
    out-of-order late arrivals, and redelivered events — and untouched
    keys' histories must not be rewritten."""
    from pipeline_etl_ecommerce_spark.operators.scd import scd2_from_log
    from pipeline_etl_ecommerce_spark.streaming.pipelines import scd2_maintenance_stream

    drop_dir = str(tmp_path / "drops")
    log_path = str(tmp_path / "log")
    hist_path = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt_scd2")
    os.makedirs(drop_dir)

    def drop(name, rows):
        with open(os.path.join(drop_dir, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def hist_rows():
        return {
            (r.user_id, r.valid_from): (r.attr_value, r.valid_to, r.n_events, r.is_current)
            for r in spark.read.parquet(hist_path).collect()
        }

    def recompute_rows():
        full = scd2_from_log(
            spark.read.parquet(log_path), ["user_id"], "event_type", "ts",
            tiebreak_cols=["event_id"],
        )
        return {
            (r.user_id, r.valid_from): (r.attr_value, r.valid_to, r.n_events, r.is_current)
            for r in full.collect()
        }

    args = (spark, drop_dir, log_path, hist_path, ckpt)

    # batch 1: user 1 runs a,a,b; user 2 runs x
    drop("b1.json", [
        {"event_id": 1, "user_id": 1, "event_type": "a", "ts": 0},
        {"event_id": 2, "user_id": 1, "event_type": "a", "ts": 10},
        {"event_id": 3, "user_id": 1, "event_type": "b", "ts": 20},
        {"event_id": 4, "user_id": 2, "event_type": "x", "ts": 5},
    ])
    scd2_maintenance_stream(*args).awaitTermination(120)
    assert hist_rows() == recompute_rows()
    assert hist_rows()[(1, 20)] == ("b", None, 1, True)

    # batch 2: LATE event for user 1 lands inside the old 'a' run and
    # SPLITS it (a@0, c@5 -> a[0,5) c[5,10) a[10,20) b[20,...)); user 2
    # untouched and must survive byte-for-byte
    drop("b2.json", [
        {"event_id": 5, "user_id": 1, "event_type": "c", "ts": 5},
    ])
    scd2_maintenance_stream(*args).awaitTermination(120)
    got = hist_rows()
    assert got == recompute_rows()
    assert got[(1, 0)] == ("a", 5, 1, False)
    assert got[(1, 5)] == ("c", 10, 1, False)
    assert got[(1, 10)] == ("a", 20, 1, False)
    assert got[(2, 5)] == ("x", None, 1, True)

    # batch 3: redelivery of event 5 (same event_id) — idempotent, nothing
    # changes in either the log or the history
    drop("b3.json", [
        {"event_id": 5, "user_id": 1, "event_type": "c", "ts": 5},
    ])
    scd2_maintenance_stream(*args).awaitTermination(120)
    assert spark.read.parquet(log_path).count() == 5
    assert hist_rows() == got


def test_click_attribution_stream_stream_join(spark, tmp_path):
    """Stream-stream interval join: purchases attribute to same-user clicks
    within the preceding hour; a click arriving in a LATER trigger still
    joins a purchase buffered in join state from an earlier one."""
    from pipeline_etl_ecommerce_spark.streaming.pipelines import (
        click_attribution_join_stream,
    )

    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purchases")
    target = str(tmp_path / "attr")
    ckpt = str(tmp_path / "ckpt_attr")
    os.makedirs(clicks_dir)
    os.makedirs(purch_dir)

    def drop(d, name, rows):
        with open(os.path.join(d, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    base = 1754042400_000000  # µs epoch, 2025-08-01 10:00:00 UTC
    MIN = 60_000_000

    # trigger 1: user 1 clicks at +0 and +50min; purchase at +55min.
    # user 2 clicks at +0 but purchases at +90min (outside 1h of the click).
    drop(clicks_dir, "c1.json", [
        {"click_id": 1, "user_id": 1, "ts": base},
        {"click_id": 2, "user_id": 1, "ts": base + 50 * MIN},
        {"click_id": 3, "user_id": 2, "ts": base},
    ])
    drop(purch_dir, "p1.json", [
        {"purchase_id": 101, "user_id": 1, "ts": base + 55 * MIN},
        {"purchase_id": 102, "user_id": 2, "ts": base + 90 * MIN},
    ])
    args = (spark, clicks_dir, purch_dir, target, ckpt)
    click_attribution_join_stream(*args).awaitTermination(120)

    got = {(r.purchase_id, r.click_id) for r in spark.read.parquet(target).collect()}
    # purchase 101 joins both user-1 clicks (0 and 50min before); purchase
    # 102 matches nothing (click 3 is 90min before it)
    assert got == {(101, 1), (101, 2)}

    # trigger 2: a late click for user 2 lands at +80min — within 1h of
    # purchase 102, which is still buffered in the restored join state
    drop(clicks_dir, "c2.json", [
        {"click_id": 4, "user_id": 2, "ts": base + 80 * MIN},
    ])
    click_attribution_join_stream(*args).awaitTermination(120)
    got2 = {(r.purchase_id, r.click_id) for r in spark.read.parquet(target).collect()}
    assert got2 == {(101, 1), (101, 2), (102, 4)}


def test_idempotent_foreach_batch_skips_redelivered_batches(spark, tmp_path):
    """Simulate the crash-between-sink-and-checkpoint window: the same
    (batch_id, data) is delivered twice. An append sink alone duplicates;
    under the batch-id journal the replay is a no-op — and a NEW batch id
    still lands."""
    from pipeline_etl_ecommerce_spark.streaming.runner import idempotent_foreach_batch

    target = str(tmp_path / "append_target")
    markers = str(tmp_path / "markers")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")

    def append_sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(target)

    sink = idempotent_foreach_batch(append_sink, markers)
    sink(df, 0)
    sink(df, 0)  # redelivery of the SAME batch: must be skipped
    assert spark.read.parquet(target).count() == 2
    sink(df, 1)  # a genuinely new batch still appends
    assert spark.read.parquet(target).count() == 4


def test_idempotent_foreach_batch_reruns_after_precommit_crash(spark, tmp_path):
    """A sink that crashes BEFORE the marker write must re-run on
    redelivery (at-least-once on its side effects), then commit."""
    from pipeline_etl_ecommerce_spark.streaming.runner import idempotent_foreach_batch

    target = str(tmp_path / "t2")
    markers = str(tmp_path / "m2")
    df = spark.createDataFrame([(1, "a")], "id bigint, v string")
    calls = []

    def flaky_sink(batch_df, batch_id):
        calls.append(batch_id)
        if len(calls) == 1:
            raise RuntimeError("crash before marker commit")
        batch_df.write.mode("append").parquet(target)

    sink = idempotent_foreach_batch(flaky_sink, markers)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        sink(df, 0)
    sink(df, 0)  # redelivery re-runs because no marker was committed
    assert calls == [0, 0]
    assert spark.read.parquet(target).count() == 1


def test_idempotent_foreach_batch_query_key_isolates_journals(spark, tmp_path):
    """Two journaled sinks sharing one marker_dir must not eat each
    other's batch ids when given distinct query keys."""
    from pipeline_etl_ecommerce_spark.streaming.runner import idempotent_foreach_batch

    markers = str(tmp_path / "m")
    t1, t2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    df = spark.createDataFrame([(1, "a")], "id bigint, v string")
    s1 = idempotent_foreach_batch(lambda b, i: b.write.mode("append").parquet(t1), markers, query_key="q1")
    s2 = idempotent_foreach_batch(lambda b, i: b.write.mode("append").parquet(t2), markers, query_key="q2")
    s1(df, 0)
    s2(df, 0)  # same batch id, different query: must still run
    assert spark.read.parquet(t1).count() == 1
    assert spark.read.parquet(t2).count() == 1


def test_run_batches_skips_empty_micro_batch(spark, tmp_path):
    """An empty drop file still makes a micro-batch (the source offset
    advances), but ``process`` never sees it; the next file's batch does."""
    from pyspark.sql.types import StructType

    from pipeline_etl_ecommerce_spark.streaming.runner import run_batches

    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    schema = StructType.fromDDL("id bigint, v string")
    calls = []

    def run():
        stream = read_json_stream(spark, src, schema, max_files_per_trigger=1)
        q = run_batches(stream, ckpt, lambda b, i: calls.append((i, b.count())))
        assert q.awaitTermination(120)
        return q

    _write_batch(src, "b1_empty.json", [])
    q = run()
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"] == 0] == [0]
    assert calls == []
    _write_batch(src, "b2.json", [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    run()
    assert calls == [(1, 2)]


def test_run_batches_failed_batch_is_redelivered(spark, tmp_path):
    """At-least-once: an exception in ``process`` fails the query at
    ``awaitTermination`` and leaves the batch uncommitted, so a re-run on
    the same checkpoint redelivers it; a keyed upsert absorbs the replay."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.types import StructType

    from pipeline_etl_ecommerce_spark.sources.sinks import upsert_to_path
    from pipeline_etl_ecommerce_spark.streaming.runner import run_batches

    src, ckpt, target = (str(tmp_path / d) for d in ("in", "ckpt", "mart"))
    schema = StructType.fromDDL("id bigint, v string")
    _write_batch(src, "b1.json", [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    delivered = []

    def upsert_then_crash(batch_df, batch_id):
        delivered.append(batch_id)
        upsert_to_path(batch_df, target, ["id"])
        raise RuntimeError("crash after the sink wrote, before the commit")

    q = run_batches(read_json_stream(spark, src, schema), ckpt, upsert_then_crash)
    with pytest.raises(StreamingQueryException, match="crash after the sink wrote"):
        q.awaitTermination(120)
    assert not os.path.exists(os.path.join(ckpt, "commits", "0"))

    def upsert(batch_df, batch_id):
        delivered.append(batch_id)
        upsert_to_path(batch_df, target, ["id"])

    assert run_batches(read_json_stream(spark, src, schema), ckpt, upsert).awaitTermination(120)
    assert delivered == [0, 0]
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert sorted((r.id, r.v) for r in spark.read.parquet(target).collect()) == [(1, "a"), (2, "b")]


def test_stage_drops_routes_rows_to_json_lines(spark, tmp_path):
    """Each staged row is one JSON object keyed in column order; a row
    routed to two files lands in both, and reading the files back with the
    returned schema gives the source rows."""
    from pipeline_etl_ecommerce_spark.testdata_queries import _stage_drops

    rows = spark.createDataFrame(
        [(3, 1.5, "c", [0.25]), (1, None, "a", []), (2, -2.0, "b", [1.0, 2.0])],
        "id bigint, value double, tag string, vec array<double>",
    )
    drops = str(tmp_path / "drops")
    schema = _stage_drops(
        drops, rows, lambda r: ("b1.json", "b2.json") if r.id == 3 else f"b{r.id}.json"
    )
    assert schema == rows.schema
    files = {}
    for name in sorted(os.listdir(drops)):
        with open(os.path.join(drops, name)) as f:
            files[name] = f.read().splitlines()
    assert files == {
        "b1.json": [
            '{"id": 3, "value": 1.5, "tag": "c", "vec": [0.25]}',
            '{"id": 1, "value": null, "tag": "a", "vec": []}',
        ],
        "b2.json": [
            '{"id": 3, "value": 1.5, "tag": "c", "vec": [0.25]}',
            '{"id": 2, "value": -2.0, "tag": "b", "vec": [1.0, 2.0]}',
        ],
    }
    back = spark.read.schema(schema).json(drops).distinct()
    assert sorted(back.collect()) == sorted(rows.collect())


def test_stage_drops_route_only_columns_are_not_written(spark, tmp_path):
    from pipeline_etl_ecommerce_spark.testdata_queries import _stage_drops

    rows = spark.createDataFrame([(1, 10), (2, 20)], "event_id bigint, cents bigint")
    drops = str(tmp_path / "drops")
    schema = _stage_drops(
        drops, rows, lambda r: f"b{r.event_id}.json", route_only=("event_id",)
    )
    assert schema.fieldNames() == ["cents"]
    with open(os.path.join(drops, "b2.json")) as f:
        assert f.read() == '{"cents": 20}\n'
