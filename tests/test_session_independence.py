"""Session-independence guards: catalog results must not depend on the
driver session's ambient configuration (CORRECTNESS_r02's one red row was a
session-timezone dependence), streams must never fall through a timeout
into a partial sink read, and the events-nanos normalization must fail
loudly on an implausible epoch scale instead of silently inflating every
timestamp 1000×.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.testdata_queries import (
    _await_stream,
    _events,
    _session_tz,
    _tz_day,
)


class _FakeQuery:
    def __init__(self, done: bool):
        self._done = done
        self.stopped = False

    def awaitTermination(self, timeout=None):
        return self._done

    def stop(self):
        self.stopped = True


def test_await_stream_raises_on_timeout():
    q = _FakeQuery(done=False)
    with pytest.raises(TimeoutError):
        _await_stream(q, timeout=1)
    assert q.stopped  # the hung stream is stopped, not leaked


def test_await_stream_passes_on_completion():
    _await_stream(_FakeQuery(done=True), timeout=1)


def test_session_tz_restores_on_exception(spark):
    before = spark.conf.get("spark.sql.session.timeZone")
    with pytest.raises(RuntimeError):
        with _session_tz(spark, "UTC"):
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.session.timeZone") == before


def test_tz_day_is_session_tz_invariant(spark):
    # 2024-03-01 01:30 UTC is 2024-02-29 22:30 in America/Sao_Paulo (-03:00):
    # the SP calendar day must come out 2024-02-29 under ANY session tz.
    us = int(dt.datetime(2024, 3, 1, 1, 30, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    df = spark.range(1).select(F.lit(us).alias("us"))
    results = []
    for tz in ("UTC", "America/Sao_Paulo", "Asia/Tokyo"):
        with _session_tz(spark, tz):
            results.append(df.select(_tz_day(F.col("us")).alias("d")).collect()[0]["d"])
    assert results == [dt.date(2024, 2, 29)] * 3


def test_tz_day_day_boundary(spark):
    # exactly SP midnight: 03:00:00.000000 UTC -> 00:00 SP, same calendar day
    us = int(dt.datetime(2024, 3, 1, 3, 0, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    df = spark.range(1).select(F.lit(us).alias("us"))
    on, before = df.select(
        _tz_day(F.col("us")).alias("d"), _tz_day(F.col("us") - 1).alias("p")
    ).collect()[0]
    assert on == dt.date(2024, 3, 1)
    assert before == dt.date(2024, 2, 29)  # one microsecond earlier


def test_events_nanos_guard_rejects_implausible_scale(spark, tmp_path):
    """If a build's forced-BIGINT read of the events timestamp surfaced raw
    NANOS instead of micros, the ×1000 rescale would inflate every timestamp
    1000× — the guard must raise, not return wrong days."""
    # store raw-nanos-magnitude int64s (~1.7e18) in a timestamp[us] column:
    # the forced-BIGINT fallback reads them as-is, and ×1000 lands far past
    # the plausible epoch-nanos ceiling (4.7e18).
    raw = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "user_id": pa.array([1, 1], pa.int64()),
            "event_type": pa.array(["a", "b"], pa.string()),
            "ts": pa.array([1_700_000_000_000_000_000, 1_700_000_000_000_001_000], pa.timestamp("us")),
            "value": pa.array([1.0, 2.0], pa.float64()),
        }
    )
    pq.write_table(raw, os.path.join(tmp_path, "events.parquet"))
    with pytest.raises(ValueError, match="implausible"):
        _events(spark, str(tmp_path)).collect()


def test_events_normalization_on_plausible_micros(spark, tmp_path):
    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    raw = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["a"], pa.string()),
            "ts": pa.array([ts], pa.timestamp("us")),
            "value": pa.array([1.0], pa.float64()),
        }
    )
    pq.write_table(raw, os.path.join(tmp_path, "events.parquet"))
    row = _events(spark, str(tmp_path)).collect()[0]
    assert row["event_date"] == dt.date(2024, 3, 1)
    # nanos round-trip: naive micros × 1000
    naive_us = int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert row["ts"] == naive_us * 1000


def test_tz_day_tracks_dst_offsets(spark):
    """America/Sao_Paulo observed DST until 2019 (UTC-2 in southern
    summer). _tz_day must apply the PER-INSTANT offset, not a fixed -3h:
    2018-01-15 02:30 UTC is 00:30 Jan 15 under DST (UTC-2) but would be
    23:30 Jan 14 under the naive fixed offset."""
    us = int(dt.datetime(2018, 1, 15, 2, 30, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    df = spark.range(1).select(F.lit(us).alias("us"))
    with _session_tz(spark, "UTC"):
        got = df.select(_tz_day(F.col("us")).alias("d")).collect()[0]["d"]
    assert got == dt.date(2018, 1, 15)
    # and a winter instant uses UTC-3 as usual
    us_w = int(dt.datetime(2018, 7, 15, 2, 30, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    got_w = spark.range(1).select(_tz_day(F.lit(us_w)).alias("d")).collect()[0]["d"]
    assert got_w == dt.date(2018, 7, 14)


def test_side_marts_isolated_per_sf_dir(spark, tmp_path):
    """One session touching TWO sf_dirs must keep their materialized side
    marts independent: the scratch-parquet mart path used to key on
    (applicationId, name) only, so the second SF's build OVERWROTE the
    first's files while the first's read-back frames still pointed at them
    (caught by the 10x stress battery reading sf1-sized marts for its
    sf0.1 measurement)."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from pipeline_etl_ecommerce_spark.testdata_queries import _side_table

    dirs = []
    for n_rows in (3, 7):
        d = tmp_path / f"sf_fake_{n_rows}"
        d.mkdir()
        _pq.write_table(
            _pa.table({"doc_id": _pa.array(list(range(n_rows)), _pa.int64())}),
            str(d / "docs.parquet"),
        )
        dirs.append(str(d))

    def build(path):
        return lambda: spark.read.parquet(os.path.join(path, "docs.parquet"))

    a = _side_table(spark, dirs[0], "iso_probe", build(dirs[0]))
    b = _side_table(spark, dirs[1], "iso_probe", build(dirs[1]))
    # the second build must not clobber the first's files: both frames
    # (and fresh re-reads through the memo) keep their own row counts
    assert b.count() == 7
    assert a.count() == 3
    assert _side_table(spark, dirs[0], "iso_probe", build(dirs[0])).count() == 3


def test_epoch_us_is_zone_free_across_a_dst_gap(spark):
    """1995-10-15 00:00 does not exist in America/Sao_Paulo (DST began at
    midnight): ``timestampdiff`` from the NTZ epoch put it an hour late,
    ``_epoch_us`` gives DuckDB's naive ``epoch_us``."""
    from pipeline_etl_ecommerce_spark.testdata_queries import _epoch_us

    assert spark.conf.get("spark.sql.session.timeZone") == "America/Sao_Paulo"
    naive = [
        dt.datetime(1995, 10, 15),
        dt.datetime(1995, 10, 15, 0, 30, 1, 250),
        dt.datetime(2001, 3, 4, 13, 45, 10, 500000),
    ]
    df = spark.createDataFrame([(t,) for t in naive], "t timestamp_ntz")
    got = [r[0] for r in df.select(_epoch_us("t")).collect()]
    epoch = dt.datetime(1970, 1, 1)
    assert got == [(t - epoch) // dt.timedelta(microseconds=1) for t in naive]


def test_peak_concurrent_orders_matches_oracle_on_dst_gap_seed(spark, tmp_path):
    """Seed 5 of the benchmark's tables puts the '4-NOT SPECIFIED' peak at
    the 1995-10-15 DST-gap midnight: the row must equal its DuckDB oracle."""
    import duckdb

    from perfbench import tables
    from pipeline_etl_ecommerce_spark.testdata_queries import oracle_sql, queries

    pq.write_table(tables.build(5, 0.01)["orders"], str(tmp_path / "orders.parquet"))
    got = {tuple(r) for r in queries()["peak_concurrent_orders"](spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{tmp_path}/orders.parquet')")
    want = set(con.execute(oracle_sql()["peak_concurrent_orders"]).fetchall())
    assert ("4-NOT SPECIFIED", 20, 814233600000000) in want
    assert got == want
