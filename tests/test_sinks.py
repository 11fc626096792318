"""Tests for keyed sinks (SURVEY.md §2.1 S9-S13)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import count_jobs
from pipeline_etl_ecommerce_spark.sources.sinks import (
    append_to_path,
    dedupe_last_wins,
    insert_if_absent,
    keyed_update,
    merge_upsert,
    overwrite_path,
    read_mart,
    delete_keys_from_path,
    replace_groups,
    replace_groups_to_path,
    upsert_to_path,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int, ts long")


def test_merge_upsert_replaces_matched_keys(spark):
    old = _df(spark, [("a", 1, 1), ("b", 2, 1)])
    new = _df(spark, [("b", 20, 2), ("c", 30, 2)])
    got = {r["k"]: r["v"] for r in merge_upsert(old, new, ["k"]).collect()}
    assert got == {"a": 1, "b": 20, "c": 30}


def test_merge_upsert_last_wins_within_batch(spark):
    old = _df(spark, [("a", 1, 1)])
    new = _df(spark, [("a", 10, 2), ("a", 99, 5), ("a", 50, 3)])
    got = merge_upsert(old, new, ["k"], order_by=["ts"]).collect()
    assert len(got) == 1 and got[0]["v"] == 99


def test_insert_if_absent_ignores_existing(spark):
    existing = _df(spark, [("a", 1, 1)])
    new = _df(spark, [("a", 10, 2), ("b", 20, 2), ("b", 21, 3)])
    got = {r["k"]: r["v"] for r in insert_if_absent(existing, new, ["k"]).collect()}
    assert set(got) == {"b"}  # 'a' ignored; 'b' deduped to one row


def test_keyed_update_does_not_insert(spark):
    target = _df(spark, [("a", 1, 1), ("b", 2, 1)])
    updates = _df(spark, [("b", 20, 2), ("zzz", 99, 2)])
    got = {r["k"]: r["v"] for r in keyed_update(target, updates, ["k"], ["v"]).collect()}
    assert got == {"a": 1, "b": 20}  # 'zzz' not inserted (S12 update-only)


def test_replace_groups_drops_stale_tail_rows(spark):
    """A shrinking group (doc re-chunked to FEWER rows) must lose its old
    tail — merge_upsert on the composite key would keep ('a', 2)."""
    old = spark.createDataFrame(
        [("a", 0, 10), ("a", 1, 11), ("a", 2, 12), ("b", 0, 20)], "g string, i int, v int"
    )
    new = spark.createDataFrame([("a", 0, 99), ("a", 1, 98)], "g string, i int, v int")
    got = sorted((r["g"], r["i"], r["v"]) for r in replace_groups(old, new, ["g"]).collect())
    assert got == [("a", 0, 99), ("a", 1, 98), ("b", 0, 20)]


def test_replace_groups_to_path_roundtrip(spark, tmp_path):
    path = os.path.join(str(tmp_path), "groups")
    df = spark.createDataFrame([("a", 0, 1), ("a", 1, 2), ("b", 0, 3)], "g string, i int, v int")
    replace_groups_to_path(df, path, ["g"])
    shorter = spark.createDataFrame([("a", 0, 9)], "g string, i int, v int")
    replace_groups_to_path(shorter, path, ["g"])
    got = sorted((r["g"], r["i"], r["v"]) for r in spark.read.parquet(path).collect())
    assert got == [("a", 0, 9), ("b", 0, 3)]


def test_dedupe_last_wins(spark):
    df = _df(spark, [("a", 1, 1), ("a", 2, 9), ("a", 3, 5)])
    got = dedupe_last_wins(df, ["k"], ["ts"]).collect()
    assert len(got) == 1 and got[0]["v"] == 2


def test_upsert_to_path_roundtrip(spark, tmp_path):
    path = os.path.join(str(tmp_path), "mart")
    assert upsert_to_path(_df(spark, [("a", 1, 1), ("b", 2, 1)]), path, ["k"]) == 2
    # the return value counts the deduped batch
    assert upsert_to_path(_df(spark, [("b", 20, 2), ("c", 30, 2), ("c", 31, 1)]), path, ["k"], ["ts"]) == 2
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 20, "c": 30}


# ---------------------------------------------------------------------------
# upsert_to_path and replace_groups_to_path: file-level copy-on-write
# ---------------------------------------------------------------------------


def _mart_files(path):
    """name -> (inode, bytes) of the mart's parquet files."""
    out = {}
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            with open(os.path.join(path, name), "rb") as fh:
                out[name] = (os.stat(os.path.join(path, name)).st_ino, fh.read())
    return out


def _file_rows(path):
    import pyarrow.parquet as pq

    return [pq.read_metadata(os.path.join(path, n)).num_rows for n in os.listdir(path) if n.endswith(".parquet")]


def test_upsert_to_path_leaves_files_outside_the_batch_keys_untouched(spark, tmp_path):
    path = str(tmp_path / "mart")
    upsert_to_path(_df(spark, [("a", 1, 1), ("b", 2, 1), ("c", 3, 1)]), path, ["k"])
    upsert_to_path(_df(spark, [("x", 7, 1), ("y", 8, 1), ("z", 9, 1)]), path, ["k"])
    before = _mart_files(path)
    assert len(before) == 2
    upsert_to_path(_df(spark, [("b", 20, 2)]), path, ["k"])
    after = _mart_files(path)
    # the x..z file's key range misses "b": same name, inode and bytes
    untouched = [name for name, (ino, data) in before.items() if after.get(name) == (ino, data)]
    assert len(untouched) == 1 and len(after) == 3  # plus the a,c rewrite and the batch
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 20, "c": 3, "x": 7, "y": 8, "z": 9}


def test_upsert_to_path_replaces_null_key_component_across_files(spark, tmp_path):
    path = str(tmp_path / "mart")
    schema = "k string, g int, v int"
    upsert_to_path(spark.createDataFrame([(None, 1, 1), ("a", 1, 1)], schema), path, ["k", "g"])
    upsert_to_path(spark.createDataFrame([("m", 2, 1), ("n", 2, 1)], schema), path, ["k", "g"])
    upsert_to_path(spark.createDataFrame([(None, 1, 99), (None, 2, 5)], schema), path, ["k", "g"])
    got = sorted(((r["k"] or ""), r["g"], r["v"]) for r in spark.read.parquet(path).collect())
    assert got == [("", 1, 99), ("", 2, 5), ("a", 1, 1), ("m", 2, 1), ("n", 2, 1)]
    # the same batch again converges: no NULL-keyed duplicates
    upsert_to_path(spark.createDataFrame([(None, 1, 99), (None, 2, 5)], schema), path, ["k", "g"])
    assert spark.read.parquet(path).count() == 5


def test_upsert_to_path_schema_drift_raises_before_any_file_changes(spark, tmp_path):
    import pytest

    path = str(tmp_path / "mart")
    upsert_to_path(_df(spark, [("a", 1, 1)]), path, ["k"])
    upsert_to_path(_df(spark, [("b", 2, 1)]), path, ["k"])
    before = _mart_files(path)
    widened = spark.createDataFrame([("a", 2, 2, 0.5)], "k string, v int, ts long, discount double")
    with pytest.raises(ValueError, match="schema drifts"):
        upsert_to_path(widened, path, ["k"])
    retyped = spark.createDataFrame([("a", 2, 2)], "k string, v bigint, ts long")
    with pytest.raises(ValueError, match="retypes column"):
        upsert_to_path(retyped, path, ["k"])
    keyless = spark.createDataFrame([(2, 2)], "v int, ts long")
    with pytest.raises(ValueError, match="lacks key column"):
        upsert_to_path(keyless, path, ["k"], order_by=["ts"])
    assert _mart_files(path) == before
    assert os.listdir(str(tmp_path)) == ["mart"]  # no temp dir left beside it


def test_upsert_to_path_batch_reading_the_target_mart(spark, tmp_path):
    """A batch whose lineage scans the mart it upserts into: the batch is
    written out before any mart file moves, so the scan never loses a file."""
    path = str(tmp_path / "mart")
    upsert_to_path(_df(spark, [("a", 1, 1), ("b", 2, 1)]), path, ["k"])
    upsert_to_path(_df(spark, [("c", 3, 1)]), path, ["k"])
    bumped = spark.read.parquet(path).filter(F.col("k") != "b").withColumn("v", F.col("v") + 100)
    assert upsert_to_path(bumped, path, ["k"]) == 2
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 101, "b": 2, "c": 103}


# ---------------------------------------------------------------------------
# read_mart: the schema from one footer instead of an inference job
# ---------------------------------------------------------------------------

_SALE = "id long, sku string, ts timestamp, day date, qty int, price double"


def _sales(n, first=0):
    import datetime as dt

    return [(first + i, f"SKU-{i}", dt.datetime(2025, 8, 10, 12, i), dt.date(2025, 8, 10), i, 1.5 * i)
            for i in range(n)]


def _pyarrow_file(path, rows):
    """A file written by pyarrow alone: its footer carries no Spark schema."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    utc = [t.replace(tzinfo=dt.timezone.utc) for t in cols[2]]
    pq.write_table(pa.table({
        "id": pa.array(cols[0], pa.int64()), "sku": pa.array(cols[1], pa.string()),
        "ts": pa.array(utc, pa.timestamp("us", tz="UTC")), "day": pa.array(cols[3], pa.date32()),
        "qty": pa.array(cols[4], pa.int32()), "price": pa.array(cols[5], pa.float64()),
    }), path)


def test_read_mart_schema_and_rows_equal_sparks_read(spark, tmp_path):
    """Four marts: one written by upsert_to_path; one whose writer schema has
    non-nullable nested array, map and struct fields (Spark's read makes them
    nullable); one written by pyarrow alone (the fallback); and a
    Spark-written one whose first file pyarrow wrote (a history backfill)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import (ArrayType, IntegerType, LongType, MapType, StringType, StructField,
                                   StructType)

    upserted = str(tmp_path / "upserted")
    upsert_to_path(_df(spark, [("a", 1, 1)]), upserted, ["k"])
    upsert_to_path(_df(spark, [("b", 2, 2)]), upserted, ["k"])
    nested = str(tmp_path / "nested")
    item = StructType([StructField("x", IntegerType(), False)])
    schema = StructType([
        StructField("k", LongType(), False),
        StructField("a", ArrayType(item, False), False),
        StructField("m", MapType(StringType(), ArrayType(IntegerType(), False), False), False),
        StructField("s", StructType([StructField("y", StringType(), False, {"comment": "kept"})]), False),
    ])
    spark.createDataFrame([(1, [(2,)], {"z": [3]}, ("w",))], schema).write.parquet(nested)
    pyarrow_only = tmp_path / "pyarrow_only"
    pyarrow_only.mkdir()
    _pyarrow_file(str(pyarrow_only / "part-0.parquet"), _sales(3))
    _pyarrow_file(str(pyarrow_only / "part-1.parquet"), _sales(2, first=10))
    mixed = str(tmp_path / "mixed")
    spark.createDataFrame(_sales(3, first=100), _SALE).coalesce(1).write.parquet(mixed)
    _pyarrow_file(os.path.join(mixed, "part-0000-history.parquet"), _sales(4))
    first = sorted(f for f in os.listdir(mixed) if f.endswith(".parquet"))[0]
    assert first == "part-0000-history.parquet"
    assert b"org.apache.spark.sql.parquet.row.metadata" not in pq.read_metadata(os.path.join(mixed, first)).metadata

    for path in (upserted, nested, str(pyarrow_only), mixed):
        got, want = read_mart(spark, path), spark.read.parquet(path)
        assert got.schema == want.schema, path
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect())), path


def test_read_mart_absent_or_empty_path_raises_like_sparks_read(spark, tmp_path):
    import pytest

    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(tmp_path / "absent"), str(empty)):
        with pytest.raises(Exception) as want:
            spark.read.parquet(path)
        with pytest.raises(Exception) as got:
            read_mart(spark, path)
        assert type(got.value) is type(want.value), path
        assert got.value.getCondition() == want.value.getCondition(), path


def test_read_mart_runs_no_job_on_a_spark_written_mart(spark, tmp_path):
    """No job, also when the first file is one pyarrow wrote: the schema
    comes from the first footer that carries one."""
    path = str(tmp_path / "mart")
    for i in range(3):
        upsert_to_path(spark.createDataFrame(_sales(2, first=10 * i), _SALE), path, ["id"])
    _pyarrow_file(os.path.join(path, "part-0000-history.parquet"), _sales(4, first=100))
    assert count_jobs(spark, lambda: spark.read.parquet(path).schema)[1] >= 1  # the inference job
    assert count_jobs(spark, lambda: read_mart(spark, path).schema)[1] == 0


def test_upsert_to_path_nested_nullability_is_no_drift(spark, tmp_path):
    """Spark reads nested fields back nullable, so a batch whose array and
    struct cannot hold NULL re-upserts without a drift error, and so does a
    nullable batch into the mart that batch wrote."""
    path = str(tmp_path / "mart")
    strict = spark.range(2).select(
        F.col("id").alias("k"), F.array(F.lit(1)).alias("a"), F.struct(F.lit("x").alias("s")).alias("st")
    )
    for _ in range(2):
        assert upsert_to_path(strict, path, ["k"]) == 2
    loose = spark.createDataFrame([(5, [None], ("y",))], "k long, a array<int>, st struct<s:string>")
    assert upsert_to_path(loose, path, ["k"]) == 1
    assert sorted(r["k"] for r in read_mart(spark, path).collect()) == [0, 1, 5]


def _groups(spark, rows, schema="g string, i int, v int"):
    """One file per write: the group writer has no shuffle to merge splits."""
    return spark.createDataFrame(rows, schema).coalesce(1)


def test_replace_groups_to_path_leaves_files_outside_the_batch_groups_untouched(spark, tmp_path):
    path = str(tmp_path / "groups")
    replace_groups_to_path(_groups(spark, [("a", 0, 1), ("a", 1, 2), ("b", 0, 3)]), path, ["g"])
    replace_groups_to_path(_groups(spark, [("x", 0, 7), ("y", 0, 8)]), path, ["g"])
    before = _mart_files(path)
    assert len(before) == 2
    landed = replace_groups_to_path(_groups(spark, [("a", 0, 9)]), path, ["g"])
    after = _mart_files(path)
    # the x..y file's group range misses "a": same name, inode and bytes
    untouched = [name for name, (ino, data) in before.items() if after.get(name) == (ino, data)]
    assert len(untouched) == 1 and len(after) == 3  # plus the b rewrite and the batch
    assert landed == 1
    got = sorted((r["g"], r["i"], r["v"]) for r in spark.read.parquet(path).collect())
    assert got == [("a", 0, 9), ("b", 0, 3), ("x", 0, 7), ("y", 0, 8)]


def test_replace_groups_to_path_schema_drift_raises_before_any_file_changes(spark, tmp_path):
    import pytest

    path = str(tmp_path / "groups")
    replace_groups_to_path(_groups(spark, [("a", 0, 1)]), path, ["g"])
    replace_groups_to_path(_groups(spark, [("b", 0, 2)]), path, ["g"])
    before = _mart_files(path)
    widened = _groups(spark, [("a", 0, 9, 0.5)], "g string, i int, v int, w double")
    with pytest.raises(ValueError, match="schema drifts"):
        replace_groups_to_path(widened, path, ["g"])
    assert _mart_files(path) == before
    assert os.listdir(str(tmp_path)) == ["groups"]  # no temp dir left beside it


def test_replace_groups_to_path_file_count_stays_bounded_when_groups_scatter(spark, tmp_path):
    """Every batch spans the whole group range (as user or document ids do),
    so every call picks every file: the picked files merge as they are
    rewritten, and the mart holds the merged rewrite plus the batch instead
    of gaining a file per call."""
    import random

    rng = random.Random(12)
    path = str(tmp_path / "groups")
    expect = {}
    for call in range(12):
        groups = {0, 999, *rng.sample(range(1, 999), 3)}
        rows = [(g, i, call) for g in sorted(groups) for i in range(rng.randrange(1, 4))]
        replace_groups_to_path(_groups(spark, rows, "g int, i int, v int"), path, ["g"])
        expect = {k: v for k, v in expect.items() if k[0] not in groups} | {(g, i): v for g, i, v in rows}
        assert len(_mart_files(path)) <= 2
    assert {(r["g"], r["i"]): r["v"] for r in spark.read.parquet(path).collect()} == expect


def test_delete_keys_from_path_rewrites_only_the_picked_files(spark, tmp_path):
    """The deleted keys' file is rewritten, the other stays in bytes and
    inode; deleting every row leaves an empty mart that still reads."""
    path = str(tmp_path / "groups")
    replace_groups_to_path(_groups(spark, [("a", 0, 1), ("a", 1, 2), ("b", 0, 3)]), path, ["g"])
    replace_groups_to_path(_groups(spark, [("x", 0, 7), ("y", 0, 8)]), path, ["g"])
    before = _mart_files(path)
    assert delete_keys_from_path(spark.createDataFrame([("a",), ("c",)], "g string"), path, ["g"]) == 2
    after = _mart_files(path)
    assert len([name for name, f in before.items() if after.get(name) == f]) == 1
    got = sorted((r["g"], r["i"], r["v"]) for r in spark.read.parquet(path).collect())
    assert got == [("b", 0, 3), ("x", 0, 7), ("y", 0, 8)]
    assert delete_keys_from_path(spark.createDataFrame([("b",), ("x",), ("y",)], "g string"), path, ["g"]) == 3
    assert spark.read.parquet(path).count() == 0
    assert spark.read.parquet(path).columns == ["g", "i", "v"]
    assert delete_keys_from_path(spark.createDataFrame([("a",)], "g string"), str(tmp_path / "absent"), ["g"]) == 0
    assert not os.path.exists(str(tmp_path / "absent"))


def test_upsert_to_path_daily_cost_stays_flat(spark, tmp_path):
    """30 small days, each with new orders plus re-deliveries of D-1..D-3:
    the largest file stays within about two days of delta, the bytes each
    call writes stay flat instead of growing with the mart, and no file
    without rows piles up."""
    import random

    rng = random.Random(30)
    path = str(tmp_path / "mart")
    expect, by_day, written, batch_rows = {}, {}, [], []
    for day in range(30):
        rows = [(day * 1000 + i, day, rng.randrange(1000)) for i in range(200)]
        by_day[day] = [r[0] for r in rows]
        for back in (1, 2, 3):
            rows += [(oid, day, rng.randrange(1000)) for oid in by_day.get(day - back, []) if rng.random() < 0.3]
        expect.update({oid: v for oid, _, v in rows})
        before = {(f, os.path.getsize(os.path.join(path, f))) for f in os.listdir(path)} if day else set()
        n = upsert_to_path(spark.createDataFrame(rows, "oid long, day int, v int"), path, ["oid"])
        after = {(f, os.path.getsize(os.path.join(path, f))) for f in os.listdir(path)}
        batch_rows.append(n)
        written.append(sum(size for _, size in after - before))
        assert 0 not in _file_rows(path)
    assert max(_file_rows(path)) <= 2 * max(batch_rows)
    assert max(written[20:]) <= 1.5 * max(written[3:10])
    got = {r["oid"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == expect


# ---------------------------------------------------------------------------
# The commit every path writer finishes through: a crash at any filesystem
# step leaves exactly the before rows or the after rows
# ---------------------------------------------------------------------------


class _Crash(RuntimeError):
    pass


# the filesystem steps of one commit of the upsert below, in order (a
# checksum file goes with its parquet file and is no step of its own)
_COMMIT_STEPS = [
    ("write-journal", "replace"),
    ("move-batch", "rename"),
    ("move-rewrite", "rename"),
    ("delete-picked", "remove"),
    ("drop-journal", "remove"),
]


def _steps_on(monkeypatch, path, crash_at=None):
    """Record the ``os.replace``/``rename``/``remove`` calls on files of the
    mart at ``path``; the call numbered ``crash_at`` raises instead."""
    seen = []
    for fn in ("replace", "rename", "remove"):
        def step(src, *args, _fn=fn, _real=getattr(os, fn), **kwargs):
            if str(src).startswith(path + os.sep) and not str(src).endswith(".crc"):
                seen.append(_fn)
                if len(seen) - 1 == crash_at:
                    raise _Crash(f"crash at {_fn} of {src}")
            return _real(src, *args, **kwargs)

        monkeypatch.setattr(os, fn, step)
    return seen


def _mart_rows(spark, path):
    return sorted((r["k"], r["v"]) for r in read_mart(spark, path).collect())


_BEFORE, _AFTER = [("a", 1), ("b", 2), ("c", 3)], [("a", 1), ("b", 20), ("c", 3)]


def test_transactional_upsert_roundtrip(spark, tmp_path, monkeypatch):
    """A clean upsert that picks a file commits in the steps the crash test
    below injects into, and leaves no journal or staging in the mart."""
    path = str(tmp_path / "mart")
    upsert_to_path(_df(spark, [("a", 1, 1), ("b", 2, 1), ("c", 3, 1)]), path, ["k"])
    seen = _steps_on(monkeypatch, path)
    upsert_to_path(_df(spark, [("b", 20, 2)]), path, ["k"])
    assert seen == [fn for _, fn in _COMMIT_STEPS]
    assert _mart_rows(spark, path) == _AFTER
    assert [f for f in os.listdir(path) if not f.endswith(".parquet")] == []


@pytest.mark.parametrize("crash_at", range(len(_COMMIT_STEPS)), ids=[name for name, _ in _COMMIT_STEPS])
def test_a_crash_at_any_commit_step_leaves_the_before_or_the_after_rows(spark, tmp_path, monkeypatch, crash_at):
    """The upsert of b=20 picks the file holding a, b and c, and crashes at
    one step of its commit. The next read sees exactly the before rows (the
    crash came before the journal landed) or the after rows (the read
    finishes the journal), with no key twice; re-running the same upsert
    gives the after rows and sweeps every journal and staging file. A swap
    without a journal left a and c twice when it crashed between the moves
    and the delete, and a re-run removed only b."""
    path = str(tmp_path / "mart")
    upsert_to_path(_df(spark, [("a", 1, 1), ("b", 2, 1), ("c", 3, 1)]), path, ["k"])
    batch = _df(spark, [("b", 20, 2)])
    seen = _steps_on(monkeypatch, path, crash_at)
    with pytest.raises(_Crash):
        upsert_to_path(batch, path, ["k"])
    monkeypatch.undo()
    assert _mart_rows(spark, path) == (_BEFORE if crash_at == 0 else _AFTER)
    assert seen == [fn for _, fn in _COMMIT_STEPS[: crash_at + 1]]
    upsert_to_path(batch, path, ["k"])
    assert _mart_rows(spark, path) == _AFTER
    assert [f for f in os.listdir(path) if not f.endswith(".parquet")] == []


def test_staging_of_a_killed_writer_is_invisible_and_swept(spark, tmp_path):
    """A writer killed before its commit leaves its staged files in the
    mart: reads skip them, and the next writer sweeps them."""
    path = str(tmp_path / "mart")
    upsert_to_path(_df(spark, [("a", 1, 1)]), path, ["k"])
    _df(spark, [("a", 99, 2), ("z", 9, 2)]).write.parquet(os.path.join(path, "_stage_killed", "batch"))
    assert _mart_rows(spark, path) == [("a", 1)]
    upsert_to_path(_df(spark, [("b", 2, 2)]), path, ["k"])
    assert _mart_rows(spark, path) == [("a", 1), ("b", 2)]
    assert [f for f in os.listdir(path) if not f.endswith(".parquet")] == []


def _leftovers(path):
    """Everything in the mart but its data files and Hive partition dirs."""
    return [n for _, dirs, files in os.walk(path) for n in dirs + files if not (n.endswith(".parquet") or "=" in n)]


def _set_b_to_20(spark, path, partition_by=None):
    """Overwrite the mart with its own rows, b's value set to 20: a frame
    that reads the mart it replaces. Returns the rows written."""
    mart = read_mart(spark, path)
    new = mart.withColumn("v", F.when(F.col("k") == "b", 20).otherwise(F.col("v")))
    return overwrite_path(new.coalesce(1), path, partition_by=partition_by)


def test_overwrite_path_of_a_frame_reading_its_own_mart(spark, tmp_path):
    """The new rows are staged in full before the old files go, so they may
    be computed from the mart itself. A plain ``mode("overwrite")`` deleted
    the mart before its read ran: the write failed and no data file was
    left."""
    path = str(tmp_path / "mart")
    assert overwrite_path(_df(spark, [("a", 1, 1), ("b", 2, 1), ("c", 3, 1)]), path) == 3
    assert _set_b_to_20(spark, path) == 3
    assert _mart_rows(spark, path) == _AFTER
    assert _leftovers(path) == []


# the filesystem steps of one overwrite commit: the flat mart holds one
# file, the Hive mart one file in each of p=0 and p=1
_OVERWRITE_STEPS = {
    "flat": [("write-journal", "replace"), ("move", "rename"), ("delete", "remove"), ("drop-journal", "remove")],
    "hive": [("write-journal", "replace"), ("move-p0", "rename"), ("move-p1", "rename"),
             ("delete-p0", "remove"), ("delete-p1", "remove"), ("drop-journal", "remove")],
}


@pytest.mark.parametrize(
    "layout,crash_at",
    [(layout, i) for layout, steps in _OVERWRITE_STEPS.items() for i in range(len(steps))],
    ids=[f"{layout}-{name}" for layout, steps in _OVERWRITE_STEPS.items() for name, _ in steps],
)
def test_a_crash_at_any_overwrite_step_leaves_the_before_or_the_after_rows(spark, tmp_path, monkeypatch, layout, crash_at):
    """A self-reading overwrite of a flat mart and of a mart partitioned by
    ``p`` crashes at one step of its commit. The next read sees exactly the
    before rows or the after rows, and re-running the same overwrite gives
    the after rows and sweeps every journal and staging entry."""
    path = str(tmp_path / "mart")
    partition_by = ["p"] if layout == "hive" else None
    rows = _df(spark, [("a", 1, 1), ("b", 2, 1), ("c", 3, 1)]).withColumn("p", (F.col("k") != "a").cast("int"))
    overwrite_path(rows.coalesce(1), path, partition_by=partition_by)
    seen = _steps_on(monkeypatch, path, crash_at)
    with pytest.raises(_Crash):
        _set_b_to_20(spark, path, partition_by)
    monkeypatch.undo()
    assert seen == [fn for _, fn in _OVERWRITE_STEPS[layout][: crash_at + 1]]
    assert _mart_rows(spark, path) == (_BEFORE if crash_at == 0 else _AFTER)
    assert _set_b_to_20(spark, path, partition_by) == 3
    assert _mart_rows(spark, path) == _AFTER
    assert _leftovers(path) == []


# the filesystem steps of one append commit: the batch is one file in the
# flat mart, one file in each of p=0 and p=1 in the Hive mart
_APPEND_STEPS = {
    "flat": [("write-journal", "replace"), ("move", "rename"), ("drop-journal", "remove")],
    "hive": [("write-journal", "replace"), ("move-p0", "rename"), ("move-p1", "rename"), ("drop-journal", "remove")],
}


@pytest.mark.parametrize(
    "layout,crash_at",
    [(layout, i) for layout, steps in _APPEND_STEPS.items() for i in range(len(steps))],
    ids=[f"{layout}-{name}" for layout, steps in _APPEND_STEPS.items() for name, _ in steps],
)
def test_a_crash_at_any_append_step_leaves_the_before_or_the_after_rows(spark, tmp_path, monkeypatch, layout, crash_at):
    """An append of d and e to a flat mart and to a mart partitioned by
    ``p`` crashes at one step of its commit. The next read sees exactly the
    before rows or the after rows, and the next append adds its own rows
    and sweeps every journal and staging entry. A plain Spark append wrote
    into the mart itself, so a crash in its job commit could leave part of
    the batch behind."""
    path = str(tmp_path / "mart")
    partition_by = ["p"] if layout == "hive" else None

    def append(rows):
        df = _df(spark, rows).withColumn("p", F.col("k").isin("a", "d").cast("int"))
        append_to_path(df.coalesce(1), path, partition_by=partition_by)

    append([("a", 1, 1), ("b", 2, 1), ("c", 3, 1)])
    seen = _steps_on(monkeypatch, path, crash_at)
    with pytest.raises(_Crash):
        append([("d", 4, 2), ("e", 5, 2)])
    monkeypatch.undo()
    assert seen == [fn for _, fn in _APPEND_STEPS[layout][: crash_at + 1]]
    after = [*_BEFORE, ("d", 4), ("e", 5)]
    assert _mart_rows(spark, path) == (_BEFORE if crash_at == 0 else after)
    append([("f", 6, 3)])
    assert _mart_rows(spark, path) == ([*_BEFORE, ("f", 6)] if crash_at == 0 else [*after, ("f", 6)])
    assert _leftovers(path) == []


def test_overwrite_path_partitioned_keeps_only_the_live_partitions(spark, tmp_path):
    """A re-overwrite into fewer partitions reads back only the live ones
    and leaves no emptied partition dir; one without rows leaves a mart
    that reads as 0 rows with its columns."""
    path = str(tmp_path / "shards")
    rows = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "shard int, v string")
    assert overwrite_path(rows, path, partition_by=["shard"]) == 3
    assert sorted(os.listdir(path)) == ["shard=0", "shard=1", "shard=2"]
    kept = read_mart(spark, path).filter(F.col("shard") == 0)
    assert overwrite_path(kept, path, partition_by=["shard"]) == 1
    assert [(r.shard, r.v) for r in read_mart(spark, path).collect()] == [(0, "a")]
    assert os.listdir(path) == ["shard=0"]
    assert overwrite_path(read_mart(spark, path).filter(F.lit(False)), path, partition_by=["shard"]) == 0
    empty = read_mart(spark, path)
    assert empty.count() == 0 and sorted(empty.columns) == ["shard", "v"]
    assert _leftovers(path) == []


def test_merge_upsert_null_safe_keys(spark):
    # nullable key component (e.g. vendas' id_variacao): NULL must match NULL
    # or every re-run duplicates those rows
    schema = "k1 long, k2 string, v int"
    old = spark.createDataFrame([(1, None, 10), (1, "a", 20)], schema)
    new = spark.createDataFrame([(1, None, 99)], schema)
    got = {(r["k1"], r["k2"]): r["v"] for r in merge_upsert(old, new, ["k1", "k2"]).collect()}
    assert got == {(1, None): 99, (1, "a"): 20}
    # idempotent: upserting the same batch again changes nothing
    twice = merge_upsert(merge_upsert(old, new, ["k1", "k2"]), new, ["k1", "k2"])
    assert twice.count() == 2


def test_insert_if_absent_null_safe_keys(spark):
    schema = "k1 long, k2 string, v int"
    existing = spark.createDataFrame([(1, None, 10)], schema)
    new = spark.createDataFrame([(1, None, 99), (2, None, 5)], schema)
    got = {(r["k1"], r["k2"]) for r in insert_if_absent(existing, new, ["k1", "k2"]).collect()}
    assert got == {(2, None)}


def test_compact_path_preserves_content(spark, tmp_path):
    from pipeline_etl_ecommerce_spark.sources.sinks import append_to_path, compact_path

    path = str(tmp_path / "mart")
    # simulate streaming debris: many tiny appends -> many tiny files
    for i in range(8):
        append_to_path(spark.range(i * 10, (i + 1) * 10).withColumnRenamed("id", "k"), path)
    import glob

    files_before = glob.glob(f"{path}/*.parquet")
    before = {r["k"] for r in spark.read.parquet(path).collect()}
    assert len(files_before) >= 8

    n = compact_path(spark, path, target_partitions=2)
    files_after = glob.glob(f"{path}/*.parquet")
    assert n == 2 and len(files_after) <= 2
    assert {r["k"] for r in spark.read.parquet(path).collect()} == before


def test_snapshot_diff_change_feed(spark):
    """The change feed between a mart and the mart after an upsert:
    operators.diff over the two frames. A NULL that moves between two
    payload columns is a change (a row fingerprint such as xxhash64 hashes
    (NULL, 5) and (5, NULL) alike)."""
    from pipeline_etl_ecommerce_spark.operators.diff import snapshot_diff

    schema = "k string, v int, w int"
    old = spark.createDataFrame([("a", 1, 1), ("b", 2, 1), ("d", None, 5)], schema)
    new = merge_upsert(old, spark.createDataFrame([("b", 20, 2), ("c", 30, 2), ("d", 5, None)], schema), ["k"])

    def feed(before, after):
        return {r.k: r.change_type for r in snapshot_diff(before, after, ["k"], ["v", "w"]).collect()}

    # a unchanged (absent from the feed), b changed, c added, d's NULL swapped columns
    assert feed(old, new) == {"b": "changed", "c": "added", "d": "changed"}
    # reverse direction flips added <-> removed
    assert feed(new, old) == {"b": "changed", "c": "removed", "d": "changed"}


# ---------------------------------------------------------------------------
# Property-based merge laws (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

rows_strat = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", None]),   # key (NULL is an identity!)
        st.integers(min_value=0, max_value=9),    # value
        st.integers(min_value=0, max_value=5),    # ts
    ),
    min_size=0,
    max_size=12,
)


def _kdf(spark, rows):
    return spark.createDataFrame(rows, "k string, v int, ts long") if rows else \
        spark.createDataFrame([], "k string, v int, ts long")


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(old_rows=rows_strat, new_rows=rows_strat)
def test_merge_upsert_laws(spark, old_rows, new_rows):
    old = dedupe_last_wins(_kdf(spark, old_rows), ["k"], order_by=["ts"])
    new = _kdf(spark, new_rows)
    merged = merge_upsert(old, new, ["k"], order_by=["ts"])
    got = {r.k: r.v for r in merged.collect()}

    # key set = old ∪ new (null-safe: None is a key like any other)
    old_keys = {r.k for r in old.collect()}
    new_keys = {k for k, _, _ in new_rows}
    assert set(got) == old_keys | new_keys
    # new keys win with their max-ts row; untouched old keys survive
    best_new = {}
    for k, v, t in new_rows:
        if k not in best_new or (t, v) > (best_new[k][1], best_new[k][0]):
            best_new[k] = (v, t)
    # hypothesis ties: only assert a definite winner when ts is unique-max
    for k in new_keys:
        ts_of_k = sorted(t for kk, _, t in new_rows if kk == k)
        if len(ts_of_k) < 2 or ts_of_k[-1] != ts_of_k[-2]:
            assert got[k] == best_new[k][0]
    for r in old.collect():
        if r.k not in new_keys:
            assert got[r.k] == r.v
    # idempotence: merging the same batch again changes nothing
    again = merge_upsert(merged, new, ["k"], order_by=["ts"])
    assert {r.k: r.v for r in again.collect()} == got

    # the path sink over a multi-file mart equals merge_upsert on the union
    # (order_by ts, v is total within a key, so both sides pick one row)
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    old_list = old.collect()
    tmp = tempfile.mkdtemp()

    def two_file_mart(name):
        path = os.path.join(tmp, name)
        os.makedirs(path)
        schema = pa.schema([("k", pa.string()), ("v", pa.int32()), ("ts", pa.int64())])
        for i, part in enumerate((old_list[::2], old_list[1::2])):
            if part:
                table = pa.Table.from_pylist([r.asDict() for r in part], schema=schema)
                pq.write_table(table, os.path.join(path, f"part-{i}.parquet"))
        return path

    try:
        path = two_file_mart("mart")
        upsert_to_path(new, path, ["k"], order_by=["ts", "v"])
        want = merge_upsert(old, new, ["k"], order_by=["ts", "v"]).collect()
        assert sorted(spark.read.parquet(path).collect(), key=repr) == sorted(want, key=repr)
        # and the group replace over the same mart equals replace_groups on the union
        path = two_file_mart("groups")
        assert replace_groups_to_path(new, path, ["k"]) == len(new_rows)
        want = replace_groups(old, new, ["k"]).collect()
        assert sorted(spark.read.parquet(path).collect(), key=repr) == sorted(want, key=repr)
    finally:
        shutil.rmtree(tmp)


def test_writer_lock_excludes_second_writer(spark, tmp_path):
    from pipeline_etl_ecommerce_spark.sources.sinks import WriterLockHeld, writer_lock

    path = str(tmp_path / "locked")
    with writer_lock(path):
        upsert_to_path(_df(spark, [("a", 1, 1)]), path, ["k"])
        # a second non-blocking writer must back off while we hold the lock
        import pytest as _pytest

        with _pytest.raises(WriterLockHeld):
            with writer_lock(path, blocking=False):
                pass
    # released: the next writer proceeds
    with writer_lock(path, blocking=False):
        upsert_to_path(_df(spark, [("b", 2, 2)]), path, ["k"])
    assert read_mart(spark, path).count() == 2


def test_zorder_key_interleaves_bits_exactly(spark):
    from pipeline_etl_ecommerce_spark.operators.layout import zorder_key

    def ref(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    rows = [(x, y) for x in [0, 1, 5, 255, 65535] for y in [0, 2, 7, 1024, 65535]]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_key([F.col("x"), F.col("y")]).alias("z")).collect()
    }
    assert got == {(x, y): ref(x, y) for x, y in rows}
    # locality sanity: neighbors in both dims stay within a small z-window
    assert abs(ref(10, 10) - ref(11, 11)) < 16


def test_write_zorder_mart_files_cover_disjoint_zkey_ranges(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from pipeline_etl_ecommerce_spark.operators.layout import write_zordered

    path = str(tmp_path / "zmart")
    df = (
        spark.range(0, 8000)
        .withColumn("x", (F.col("id") * 13) % 256)
        .withColumn("y", (F.col("id") * 29) % 256)
    )
    write_zordered(df.orderBy(F.rand(seed=2)), path, [F.col("x"), F.col("y")], bits=8, target_files=4, keep_key=True)

    ranges = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            c = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "__zkey"
            )
            mins.append(c.statistics.min)
            maxs.append(c.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint — footer stats actually prune
    # a small 2-D box maps to a bounded zkey interval: the box [0,15]^2
    # lives entirely under zkey < 16*16 (bits interleave), so only files
    # whose range overlaps [0, 256) can contain it
    touching = [r for r in ranges if r[0] < 256]
    assert len(touching) < len(ranges)


def test_merge_aggregate_mart_matches_full_recompute(spark, tmp_path):
    from pipeline_etl_ecommerce_spark.sources.sinks import merge_aggregate_mart_to_path

    path = str(tmp_path / "ivm")
    df = spark.createDataFrame(
        [(i % 3, i, float(i)) for i in range(300)], "k int, n long, v double"
    )
    for part in range(4):
        delta = df.filter(F.col("n") % 4 == part)
        agg = delta.groupBy("k").agg(
            F.count("*").alias("rows"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("sv"),
        )
        merge_aggregate_mart_to_path(agg, path, ["k"], ["rows", "sv"])
    got = {r["k"]: (r["rows"], float(r["sv"])) for r in spark.read.parquet(path).collect()}
    want = {
        r["k"]: (r["rows"], float(r["sv"]))
        for r in df.groupBy("k")
        .agg(F.count("*").alias("rows"), F.sum(F.col("v").cast("decimal(18,2)")).alias("sv"))
        .collect()
    }
    assert got == want


def test_merge_aggregate_mart_handles_retractions(spark, tmp_path):
    # CDC deletes as NEGATIVE deltas: retracting rows subtracts their
    # partials, converging the mart to the aggregate of the survivors
    from pipeline_etl_ecommerce_spark.sources.sinks import merge_aggregate_mart_to_path

    path = str(tmp_path / "ivm_retract")
    df = spark.createDataFrame(
        [(i % 2, i, float(i)) for i in range(100)], "k int, n long, v double"
    )
    agg_all = df.groupBy("k").agg(
        F.count("*").alias("rows"), F.sum(F.col("v").cast("decimal(18,2)")).alias("sv")
    )
    merge_aggregate_mart_to_path(agg_all, path, ["k"], ["rows", "sv"])
    # retract every n >= 50 by ingesting its negation
    retract = (
        df.filter("n >= 50")
        .groupBy("k")
        .agg(
            (-F.count("*")).alias("rows"),
            (-F.sum(F.col("v").cast("decimal(18,2)"))).alias("sv"),
        )
    )
    merge_aggregate_mart_to_path(retract, path, ["k"], ["rows", "sv"])
    got = {r["k"]: (r["rows"], float(r["sv"])) for r in spark.read.parquet(path).collect()}
    want = {
        r["k"]: (r["rows"], float(r["sv"]))
        for r in df.filter("n < 50")
        .groupBy("k")
        .agg(F.count("*").alias("rows"), F.sum(F.col("v").cast("decimal(18,2)")).alias("sv"))
        .collect()
    }
    assert got == want


def test_merge_upsert_schema_drift_raises_by_default(spark):
    """r9: a batch whose columns drift from the target must fail loudly —
    the pre-r9 code silently dropped columns the target lacked."""
    import pytest

    old = _df(spark, [("a", 1, 1)])
    widened = spark.createDataFrame(
        [("b", 2, 2, 0.5)], "k string, v int, ts long, discount double"
    )
    with pytest.raises(ValueError, match="schema drifts"):
        merge_upsert(old, widened, ["k"])
    narrowed = spark.createDataFrame([("b", 2)], "k string, v int")
    with pytest.raises(ValueError, match="schema drifts"):
        merge_upsert(old, narrowed, ["k"])


def test_replace_groups_schema_drift_raises(spark):
    """The in-memory group replace checks drift like its path twin: a batch
    that adds, lacks or retypes a column raises instead of being NULL-filled
    or coerced."""
    import pytest

    old = _df(spark, [("a", 1, 1)])
    widened = spark.createDataFrame([("a", 2, 2, 0.5)], "k string, v int, ts long, discount double")
    with pytest.raises(ValueError, match="schema drifts"):
        replace_groups(old, widened, ["k"])
    with pytest.raises(ValueError, match="schema drifts"):
        replace_groups(old, spark.createDataFrame([("a", 2)], "k string, v int"), ["k"])
    with pytest.raises(ValueError, match="retypes column"):
        replace_groups(old, spark.createDataFrame([("a", 2, 2)], "k string, v bigint, ts long"), ["k"])


def test_merge_upsert_missing_key_raises_before_dedupe(spark):
    """r10 (ADVICE r9): a batch missing a KEY column must raise the loud
    ValueError up front — it used to fail inside dedupe_last_wins with an
    opaque AnalysisException — and evolve_schema cannot waive it (a key is
    the row identity)."""
    import pytest

    old = _df(spark, [("a", 1, 1)])
    keyless = spark.createDataFrame([(2, 2)], "v int, ts long")
    with pytest.raises(ValueError, match="lacks key column"):
        merge_upsert(old, keyless, ["k"])
    with pytest.raises(ValueError, match="lacks key column"):
        merge_upsert(old, keyless, ["k"], evolve_schema=True)


def test_merge_upsert_retyped_column_raises_by_default(spark):
    """r10 (ADVICE r9): a same-NAME column whose TYPE drifts used to slip
    past the name-only check and die later in unionByName; now it raises
    up front, and evolve_schema=True opts into Spark's union coercion
    (int -> long widens cleanly)."""
    import pytest

    old = _df(spark, [("a", 1, 1)])
    retyped = spark.createDataFrame([("b", 2, 2)], "k string, v bigint, ts long")
    with pytest.raises(ValueError, match="retypes column"):
        merge_upsert(old, retyped, ["k"])
    got = {
        r["k"]: r["v"]
        for r in merge_upsert(old, retyped, ["k"], evolve_schema=True).collect()
    }
    assert got == {"a": 1, "b": 2}


def test_merge_upsert_evolve_schema_null_backfills(spark):
    """evolve_schema=True: union-by-name with NULL on both sides (the
    Delta mergeSchema contract for MERGE)."""
    old = _df(spark, [("a", 1, 1)])
    widened = spark.createDataFrame(
        [("b", 2, 2, 0.5)], "k string, v int, ts long, discount double"
    )
    got = {
        r["k"]: (r["v"], r["discount"])
        for r in merge_upsert(old, widened, ["k"], evolve_schema=True).collect()
    }
    assert got == {"a": (1, None), "b": (2, 0.5)}
