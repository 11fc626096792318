"""Keyed sinks: the Spark-side equivalents of the reference's write patterns.

The reference writes exclusively through MySQL ``INSERT ... ON DUPLICATE KEY
UPDATE`` (11 distinct statements), ``INSERT IGNORE``, plain ``INSERT``,
``UPDATE ... WHERE key`` and ``TRUNCATE`` (SURVEY.md §2.1 S9-S14). All of its
pipelines are therefore idempotent keyed upserts — the property that makes
late-data reprocessing safe (§2.10 T3). We reproduce that contract as
DataFrame-level merge helpers plus path-level writers.

Scale notes
-----------
- Every keyed write is one operation: drop the rows whose key is in the
  batch (one null-safe ``left_anti`` join, ``_drop_keys``, on the one key
  condition ``key_match``), then add the batch. ``replace_groups`` is
  exactly that; ``merge_upsert`` is the same over the batch deduped
  last-wins; ``insert_if_absent`` is the same join the other way round.
  Both fail on schema drift (``merge_upsert`` can opt into evolution).
  With AQE the small batch side is broadcast, so merging a day's delta
  into a 100 TB mart does NOT reshuffle the mart.
- ``upsert_to_path``, ``replace_groups_to_path`` and
  ``delete_keys_from_path`` are that operation on disk, as file-level
  copy-on-write over a flat directory of parquet files
  (``_replace_in_path``). Parquet footers pick the files whose key ranges
  may hold a batch key; only those are rewritten, minus the batch's keys,
  against a broadcast of the batch's keys. A call costs O(batch + picked
  files), not O(mart), as long as the keys cluster by file (order ids,
  dates); keys that scatter over the mart pick every file. The batch's
  keys must fit a broadcast. ``upsert_to_path`` rewrites each picked file
  on its own, so key ranges stay narrow and the mart gains about one file
  per call; ``compact_path`` cuts the file count but merges key ranges,
  after which every call picks the merged file. The group replace and the
  delete merge the picked files as they rewrite them, so a mart whose
  groups scatter (user ids, document ids) keeps a bounded file count.
- Mart reads take their schema from one footer: ``read_mart`` reads the
  schema Spark stored in the first top-level file that has it, so a read
  runs no schema-inference job, and the path writers take the mart's
  schema from the footers they open to pick files. Like Spark's own
  inference without ``mergeSchema``, this assumes the mart's files agree.
  When no top-level footer carries a Spark schema (files written by
  pyarrow alone, Hive-partitioned dirs, an absent or empty path), the read
  falls back to ``spark.read.parquet`` and its inference job.
- ``overwrite_path`` is the one whole-mart replace (``TRUNCATE`` + reload):
  it writes the new rows in full into the mart's staging dir and swaps them
  in for every data file, so the new rows may be computed from the mart
  itself. ``compact_path``, ``merge_aggregate_mart_to_path`` and the
  Z-order recluster go through it, and so does the corpus job's
  Hive-partitioned shards mart: a staged ``key=value/`` file lands in its
  own partition dir.
- Every path writer stages its files inside the mart and finishes through
  one commit (``_commit``): a journal of moves and deletes, written with one
  atomic rename, then carried out and dropped (``append_to_path`` moves
  its staged files in and deletes none). A crash at any step leaves
  the next reader or writer exactly the before rows or the after rows;
  ``read_mart`` and the writers finish a pending journal first. There is
  one writer per mart, and a reader that runs during a commit is not
  isolated.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import tempfile
import uuid

import pyarrow.parquet as pq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType
from pyspark.sql.window import Window


def dedupe_last_wins(df: DataFrame, keys: list[str], order_by: list | None = None) -> DataFrame:
    """Keep one row per key. With ``order_by``, the greatest wins (mirrors the
    reference's per-row upsert loop where the last write for a key sticks);
    without it, an arbitrary row is kept via ``dropDuplicates``.
    """
    if not order_by:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() if isinstance(c, str) else c for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def key_match(left: str, right: str, keys: list[str]):
    """Join condition: the rows of the frames aliased ``left`` and ``right``
    have the same key. Null-safe: NULL key components match each other
    (MySQL's dup-key check treats the row identity by position, and the
    reference's keys — e.g. vendas' nullable id_variacao — contain NULLs).
    A plain equi-join would never match NULL = NULL, so every re-run would
    duplicate those rows."""
    return functools.reduce(
        lambda acc, k: acc & k, [F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}")) for k in keys]
    )


def _drop_keys(df: DataFrame, batch_keys: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``df`` whose key is not in ``batch_keys``: the one keyed
    ``left_anti`` join of every merge here."""
    return df.alias("__old").join(batch_keys.alias("__new"), key_match("__old", "__new", keys), "left_anti")


def _replace(old: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """``old`` minus the batch's keys, plus the batch, columns by name."""
    kept = _drop_keys(old, batch.select(*keys).distinct(), keys)
    return kept.unionByName(batch, allowMissingColumns=True)


def _check_drift(old_schema, new: DataFrame, keys: list[str], *, evolve_schema: bool) -> None:
    """Schema-drift guards of the keyed merges.

    They run on the RAW batch, before dedupe_last_wins touches it (ADVICE
    r9): a batch missing a KEY column used to fail inside the dedupe window
    with an opaque AnalysisException, and a same-name TYPE change sailed
    past the name-only check into unionByName. Nullability is no type: a
    parquet read makes every nested field nullable, so an array, map or
    struct that can hold no NULL matches its nullable twin."""
    lost_keys = [k for k in keys if k not in new.columns]
    if lost_keys:
        raise ValueError(
            f"batch lacks key column(s) {lost_keys}; a key is "
            "the row identity and can never drift away"
        )
    old_types = {f.name: _as_nullable(f.dataType) for f in old_schema.fields}
    added = [c for c in new.columns if c not in old_types]
    missing = [c for c in old_types if c not in new.columns]
    if (added or missing) and not evolve_schema:
        raise ValueError(
            f"batch schema drifts from target (adds {added}, lacks {missing}); "
            "merge_upsert(evolve_schema=True) unions the schemas (NULL-filled "
            "on both sides), or fix the producer"
        )
    retyped = [
        f"{f.name}: {old_types[f.name].simpleString()} -> {f.dataType.simpleString()}"
        for f in new.schema.fields
        if f.name in old_types and _as_nullable(f.dataType) != old_types[f.name]
    ]
    if retyped and not evolve_schema:
        raise ValueError(
            f"batch retypes column(s) [{', '.join(retyped)}]; "
            "merge_upsert(evolve_schema=True) accepts Spark's union type "
            "coercion, or fix the producer"
        )


def merge_upsert(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    order_by: list | None = None,
    *,
    evolve_schema: bool = False,
) -> DataFrame:
    """``INSERT ... ON DUPLICATE KEY UPDATE`` semantics (SURVEY.md §2.1 S9):
    rows of ``old`` whose key appears in ``new`` are replaced; unseen keys
    survive; ``new`` is deduped by key first (last-wins with ``order_by``).
    Key comparison is null-safe (NULL components are part of the identity).

    Schema evolution (r9): a batch whose column NAMES drift from the target
    fails LOUDLY by default (the pre-r9 code silently dropped columns the
    target lacked — exactly how a mid-stream producer upgrade loses data).
    ``evolve_schema=True`` opts into the Delta ``mergeSchema`` contract
    instead: the schemas union by name — surviving old rows carry NULL for
    added columns, replaced/inserted rows carry NULL for columns the batch
    no longer ships.
    """
    _check_drift(old.schema, new, keys, evolve_schema=evolve_schema)
    return _replace(old, dedupe_last_wins(new, keys, order_by), keys)


def replace_groups(old: DataFrame, new: DataFrame, group_keys: list[str]) -> DataFrame:
    """Wholesale group replacement (``MERGE ... WHEN MATCHED DELETE`` +
    insert): every group of ``group_keys`` present in ``new`` replaces the
    old group's ENTIRE row set. Unlike ``merge_upsert`` on a composite key,
    a shrinking group leaves no stale tail rows — the fix for a redelivered
    document whose re-chunking produces FEWER chunks than before (ADVICE
    r1). Groups absent from ``new`` survive untouched; null-safe on key
    components like the other merges. A batch whose columns or types drift
    from ``old`` raises, as in ``merge_upsert`` without ``evolve_schema``."""
    _check_drift(old.schema, new, group_keys, evolve_schema=False)
    return _replace(old, new, group_keys)


def insert_if_absent(existing: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """``INSERT IGNORE`` (SURVEY.md §2.1 S10; reference
    ``tarefa_popular_fila_trafego.php:42-51``): only rows whose key is absent
    from ``existing`` are appended; first occurrence wins within ``new``.
    Null-safe on key components like ``merge_upsert``.
    """
    return _drop_keys(new.dropDuplicates(keys), existing.select(*keys).distinct(), keys)


def keyed_update(target: DataFrame, updates: DataFrame, keys: list[str], set_cols: list[str]) -> DataFrame:
    """``UPDATE t SET c=? WHERE key=?`` (SURVEY.md §2.1 S12; reference
    ``tarefa_atualizar_custos_erp.php:26,45-46``): update-only merge — keys
    missing from ``target`` are NOT inserted.
    """
    upd = updates.dropDuplicates(keys).select(*keys, *[F.col(c).alias(f"__new_{c}") for c in set_cols])
    joined = target.alias("__old").join(upd.alias("__new"), key_match("__old", "__new", keys), "left")
    return joined.select(
        *[F.coalesce(F.col(f"__new_{c}"), F.col(f"__old.{c}")).alias(c) if c in set_cols else F.col(f"__old.{c}")
          for c in target.columns]
    )


# --------------------------------------------------------------------------
# Path-level readers and writers (parquet "marts")
# --------------------------------------------------------------------------

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_mart(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job: the
    schema comes from the first top-level footer that carries the Spark
    schema Spark wrote there. Like Spark's own inference without
    ``mergeSchema``, it assumes the files agree. When no such footer exists
    (files written by pyarrow alone, Hive-partitioned dirs, an absent or
    empty path) it is ``spark.read.parquet(path)``, errors included. A
    commit left pending by a crashed writer is finished first
    (:func:`_commit`)."""
    _roll_forward(path)
    schema = _footer_schema(pq.read_metadata(f) for f in _parquet_files(path))
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def _footer_schema(footers) -> StructType | None:
    """The Spark schema of the first footer that carries one, every field,
    array element and map value made nullable as Spark's parquet read makes
    them; None when none does."""
    for md in footers:
        raw = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
        if raw:
            return _as_nullable(StructType.fromJson(json.loads(raw)))
    return None


def _as_nullable(t: DataType) -> DataType:
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def append_to_path(df: DataFrame, path: str, *, partition_by: list[str] | None = None) -> None:
    """Plain ``INSERT`` append (SURVEY.md §2.1 S11): add ``df``'s rows to
    the mart at ``path`` and keep its files. ``df`` is written in full to a
    staging dir inside the mart before :func:`_commit` moves its files in,
    so a crash leaves the before or the after rows. With ``partition_by``
    the mart is Hive-partitioned and each staged ``key=value/`` file lands
    in that partition dir."""
    with _staging(path) as tmp:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        _commit(path, _parquet_files(tmp, nested=True), [], under=tmp)


def overwrite_path(df: DataFrame, path: str, *, partition_by: list[str] | None = None) -> int:
    """``TRUNCATE`` + reload (SURVEY.md §2.1 S13): replace every data file of
    the mart at ``path`` by ``df``. ``df`` is written in full to a staging
    dir inside the mart before :func:`_commit` swaps its files in, so ``df``
    may read ``path`` itself and a crash leaves the before or the after
    rows. With ``partition_by`` the mart is Hive-partitioned and each staged
    ``key=value/`` file lands in that partition dir. A ``df`` without rows
    leaves one schema-only file, so the mart reads back as 0 rows. Returns
    the rows written, from the staged footers."""
    with _staging(path) as tmp:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if not _parquet_files(tmp, nested=True):  # a partitioned write of no rows stages no file
            df.sparkSession.createDataFrame([], df.schema).write.mode("overwrite").parquet(tmp)
        staged = _footers(_parquet_files(tmp, nested=True), [])[0]
        _commit(path, list(staged), _parquet_files(path, nested=True), under=tmp)
    return sum(rows for rows, _ in staged.values())


def upsert_to_path(new: DataFrame, path: str, keys: list[str], order_by: list | None = None) -> int:
    """Keyed MERGE into a flat directory of parquet files, without Delta:
    :func:`merge_upsert` on disk (null-safe keys, last-wins dedupe with
    ``order_by``, a loud failure on schema drift before any file changes).
    It is :func:`_replace_in_path` over the batch deduped by key. Each
    picked file is rewritten on its own, so files keep their narrow key
    ranges: with keys that cluster by file (order ids, dates) a call costs
    O(batch + picked files), not O(mart), and the mart gains about one file
    per call. Returns the number of rows upserted (the deduped batch)."""
    return _replace_in_path(new, path, keys, lambda batch: dedupe_last_wins(batch, keys, order_by), pack=False)[0]


def replace_groups_to_path(new: DataFrame, path: str, group_keys: list[str]) -> int:
    """Path-level :func:`replace_groups`: every group of ``group_keys``
    present in ``new`` replaces the mart's rows of that group wholesale;
    other groups survive. It is :func:`_replace_in_path` over the batch as
    it is, and fails on schema drift before any file changes. The picked
    files are merged as they are rewritten: groups that cluster by file
    (days) cost O(batch + picked files); groups that scatter over the mart
    (user ids, document ids) pick every file, so a call rewrites the mart
    like a full swap but the file count stays bounded. Returns the number
    of rows landed."""
    return _replace_in_path(new, path, group_keys, lambda batch: batch, pack=True)[0]


def delete_keys_from_path(keys: DataFrame, path: str, key_cols: list[str]) -> int:
    """Path-level ``DELETE WHERE key IN (...)`` (Delta's DELETE; also the
    right-to-be-forgotten hard delete): the mart's rows whose ``key_cols``
    appear in ``keys`` go, null-safe; files whose footers cannot hold such
    a key stay untouched. The same copy-on-write as
    :func:`replace_groups_to_path` with nothing to land — also the way to
    empty a group whose new row set is empty, which a batch cannot name.
    Returns the number of rows removed, from the footers."""
    if not _parquet_files(path):
        return 0
    return _replace_in_path(keys, path, key_cols, lambda k: k.select(*key_cols).distinct(), pack=True, land=False)[1]


_FILE_BYTES = 128 << 20  # target file size of a merging rewrite: the parquet row-group sweet spot


def _replace_in_path(
    new: DataFrame, path: str, keys: list[str], prepare, *, pack: bool, land: bool = True
) -> tuple[int, int]:
    """Replace every row of the mart at ``path`` whose ``keys`` appear in
    the batch ``prepare(new)``, by file-level copy-on-write. Returns the
    batch's row count and the number of mart rows it removed, read from the
    footers.

    1. schema drift between ``new`` and the mart raises before any file
       changes; the batch ``prepare(new)`` is written to a staging dir
       inside the mart;
    2. the parquet footers alone (min, max and null count of the key
       columns) pick the mart files that MAY hold a batch key; a key column
       without usable stats counts as "may hold";
    3. the picked files are rewritten minus the batch's keys by a broadcast
       null-safe ``left_anti``: the old side is never shuffled. Without
       ``pack`` each picked file is rewritten on its own, one output file
       per read split (one file unless it is larger than
       ``spark.sql.files.maxPartitionBytes``), so files never merge or
       grow; with ``pack`` they merge into files of up to 128 MB;
    4. once every new file is fully written, :func:`_commit` swaps the new
       files in for the picked ones. Without ``land`` (a delete: the batch
       holds only keys) only the rewrites move in.

    Untouched files are never read beyond their footers, and the mart stays
    a flat directory of ``*.parquet`` files (no Hive ``key=value/`` dirs).
    Steps 1-3 write only into the staging dir, so a crash at any step
    leaves the next reader or writer exactly the before rows or the after
    rows (:func:`_commit`).
    """
    spark = new.sparkSession
    with _staging(path) as tmp:
        old_files = _parquet_files(path)
        old, old_schema = _footers(old_files, keys)
        if old_files:
            old_schema = old_schema or spark.read.parquet(path).schema
            if land:
                _check_drift(old_schema, new, keys, evolve_schema=False)
                new = new.select(*old_schema.names)
        fresh = prepare(new)
        batch_dir, rewrite_dir = os.path.join(tmp, "batch"), os.path.join(tmp, "rewrite")
        fresh.write.mode("overwrite").parquet(batch_dir)
        batch = _footers(_parquet_files(batch_dir), keys)[0]
        picked = [f for f, (_, boxes) in old.items()
                  if any(_may_overlap(a, b) for a in boxes for _, bs in batch.values() for b in bs)]
        rewritten = {}
        if picked:
            batch_keys = spark.read.schema(fresh.schema).parquet(batch_dir).select(*keys)
            # one scan per file, not coalesce(1) per scan: Spark 4's
            # partitioning-aware union would zip single-partition children
            # into ONE partition and merge the files
            scans = [spark.read.schema(old_schema).parquet(f) for f in picked]
            kept = _drop_keys(functools.reduce(DataFrame.union, scans), F.broadcast(batch_keys), keys)
            if pack:
                kept = kept.coalesce(-(-sum(map(os.path.getsize, picked)) // _FILE_BYTES))
            kept.write.mode("overwrite").parquet(rewrite_dir)
            rewritten = _footers(_parquet_files(rewrite_dir), [])[0]
        landing = [f for f, (rows, _) in {**(batch if land else {}), **rewritten}.items() if rows]
        # a file without rows only carries the schema: keep one while the mart has no rows
        stale = picked + ([f for f, (rows, _) in old.items() if not rows] if landing else [])
        if not landing and len(stale) == len(old_files):
            landing = list(rewritten or batch)[:1]
        if landing or stale:
            _commit(path, landing, stale)
    landed = sum(n for n, _ in batch.values())
    return landed, sum(old[f][0] for f in picked) - sum(n for n, _ in rewritten.values())


def _parquet_files(path: str, *, nested: bool = False) -> list[str]:
    """The mart's top-level data files; with ``nested`` also those in its
    Hive ``key=value/`` dirs. Names Spark's reads skip (``_``, ``.``) are
    skipped here too, staging dirs included."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if nested and not d.startswith((".", "_")))
        out += sorted(os.path.join(root, f) for f in files if f.endswith(".parquet") and not f.startswith((".", "_")))
    return out


def _footers(files: list[str], keys: list[str]) -> tuple[dict[str, tuple[int, list[list]]], StructType | None]:
    """file -> (rows, one key box per non-empty row group), from the footer,
    and the Spark schema of the first footer carrying one
    (:func:`_footer_schema`). A box holds per key column ``None`` (no usable
    stats: may hold any value) or ``(min, max, has_nulls)``, with min and
    max None when the column is all NULL in that row group."""
    out, footers = {}, []
    for f in files:
        md = pq.read_metadata(f)
        footers.append(md)
        index = {md.schema.column(i).path: i for i in range(md.num_columns)}
        boxes = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows:
                boxes.append([_column_range(rg.column(index[k]), rg.num_rows) if k in index else None for k in keys])
        out[f] = (md.num_rows, boxes)
    return out, _footer_schema(footers)


def _column_range(col, rows: int):
    st = col.statistics
    if st is None or not st.has_null_count:
        return None
    if st.null_count == rows:
        return (None, None, True)
    # float stats skip NaN, which a null-safe key compares equal to itself
    if not st.has_min_max or col.physical_type in ("FLOAT", "DOUBLE"):
        return None
    return (st.min, st.max, st.null_count > 0)


def _may_overlap(a: list, b: list) -> bool:
    """Whether two key boxes may share a key: every key column must be able
    to match, either with a value in both ranges or NULL on both sides
    (keys compare null-safe)."""
    for ra, rb in zip(a, b):
        if ra is None or rb is None or (ra[2] and rb[2]):
            continue
        if ra[0] is None or rb[0] is None or ra[1] < rb[0] or rb[1] < ra[0]:
            return False  # all NULL on one side and no NULL on the other, or disjoint ranges
    return True


# --------------------------------------------------------------------------
# The commit of every path writer above: a journal of moves and deletes,
# made durable by one atomic rename and rolled forward by the next reader or
# writer (Delta's transaction log, reduced to one pending commit per mart).
#
# Contract: a crash at any step leaves the next reader or writer exactly the
# before rows or the after rows. There is one writer per mart (``writer_lock``
# enforces it for cooperating writers). A reader that runs during a commit is
# not isolated: it may list the mart between the moves and the deletes.
# --------------------------------------------------------------------------

_JOURNAL = "_COMMIT"
_STAGE = "_stage_"  # staging dirs and journal temps: "_" names Spark's reads and _parquet_files skip


@contextlib.contextmanager
def _staging(path: str):
    """A fresh staging dir inside the mart for a writer that ends in
    :func:`_commit`. A pending commit is finished first, and the staging a
    writer killed before its commit left behind is swept. The dir is
    removed on the way out unless a committed journal still has to move
    its files."""
    _roll_forward(path)
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        if name.startswith(_STAGE):
            debris = os.path.join(path, name)
            if os.path.isdir(debris):
                shutil.rmtree(debris)
            else:
                os.remove(debris)
    tmp = tempfile.mkdtemp(prefix=_STAGE, dir=path)
    try:
        yield tmp
    finally:
        if not os.path.exists(os.path.join(path, _JOURNAL)):
            shutil.rmtree(tmp, ignore_errors=True)


def _commit(path: str, landing: list[str], stale: list[str], *, under: str | None = None) -> None:
    """Swap the staged files ``landing`` in for the mart's files ``stale``.
    A landing file keeps the dirs it has below the staging dir ``under``
    (Hive ``key=value/``); without ``under`` it lands at the top level. The
    journal naming every move and delete by its path in the mart is written
    to a temp file, fsynced and ``os.replace``d into place: that rename is
    the commit point. :func:`_roll_forward` then does the moves, the deletes
    and drops the journal; a crash before the rename leaves the mart as it
    was, a crash after it leaves a journal the next reader or writer
    finishes."""
    moves = []
    for f in landing:
        sub = os.path.relpath(os.path.dirname(f), under) if under else ""
        moves.append((os.path.relpath(f, path), os.path.normpath(os.path.join(sub, f"part-{uuid.uuid4().hex}.parquet"))))
    fd, tmp = tempfile.mkstemp(prefix=_STAGE, dir=path)
    with os.fdopen(fd, "w") as fh:
        json.dump({"moves": moves, "deletes": [os.path.relpath(f, path) for f in stale]}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, _JOURNAL))
    _roll_forward(path)


def _roll_forward(path: str) -> None:
    """Finish the commit journaled at ``path``, if one is pending. Every step
    is idempotent: a rename whose source is gone and a delete whose file is
    gone were done by an earlier attempt. A partition dir the deletes
    leave empty goes too."""
    journal = os.path.join(path, _JOURNAL)
    try:
        with open(journal) as fh:
            plan = json.load(fh)
    except (FileNotFoundError, NotADirectoryError):
        return
    for src, dst in plan["moves"]:
        if os.path.dirname(dst):
            os.makedirs(os.path.join(path, os.path.dirname(dst)), exist_ok=True)
        with contextlib.suppress(FileNotFoundError):
            os.rename(os.path.join(path, src), os.path.join(path, dst))
    for name in plan["deletes"]:
        head, tail = os.path.split(name)
        for victim in (name, os.path.join(head, f".{tail}.crc")):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(path, victim))
        if head:
            with contextlib.suppress(OSError):  # not empty: the partition is still live
                os.rmdir(os.path.join(path, head))
    with contextlib.suppress(FileNotFoundError):
        os.remove(journal)


def compact_path(spark, path: str, *, target_partitions: int | None = None) -> int:
    """Compact a parquet mart's small files (the debris a checkpointed
    streaming upsert leaves after many micro-batches): rewrite the path with
    ``target_partitions`` output files via read → coalesce →
    :func:`overwrite_path`, so a crash leaves the before or the after files.
    Content is byte-identical, only the file layout changes.

    Defaults to one file per 128 MB of on-disk data (min 1) — the parquet
    row-group sweet spot, and the same math a 100 TB table maintenance job
    would run per partition. Returns the number of output partitions."""
    df = read_mart(spark, path)
    n = target_partitions or max(1, sum(map(os.path.getsize, _parquet_files(path))) // _FILE_BYTES)
    overwrite_path(df.coalesce(int(n)), path)
    return int(n)


class writer_lock:
    """Advisory single-writer lock for a mart. Every path writer here
    assumes one writer per mart: two concurrent writers could pick the same
    files and both commit, so the keys they share read twice. ``flock`` on a
    sidecar file — same guarantee class as Delta without a locking
    LogStore, made explicit:

        with writer_lock(path):
            upsert_to_path(df, path, keys)

    ``blocking=False`` raises ``WriterLockHeld`` instead of waiting, so a
    second ingest job can back off rather than queue. The lock is advisory
    (cooperating writers only) and process-scoped, like every flock.
    """

    def __init__(self, path: str, *, blocking: bool = True):
        self._path = path
        self._blocking = blocking
        self._fh = None

    def __enter__(self):
        import fcntl

        os.makedirs(self._path, exist_ok=True)
        self._fh = open(os.path.join(self._path, "_WRITER_LOCK"), "w")
        flags = fcntl.LOCK_EX | (0 if self._blocking else fcntl.LOCK_NB)
        try:
            fcntl.flock(self._fh, flags)
        except BlockingIOError as ex:
            self._fh.close()
            self._fh = None
            raise WriterLockHeld(f"another writer holds {self._path}") from ex
        return self

    def __exit__(self, *exc):
        import fcntl

        if self._fh is not None:
            fcntl.flock(self._fh, fcntl.LOCK_UN)
            self._fh.close()
            self._fh = None
        return False


class WriterLockHeld(RuntimeError):
    """Raised by non-blocking ``writer_lock`` when the mart is being written."""


def merge_aggregate_mart(
    old: DataFrame | None,
    delta_agg: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental view maintenance for an additive aggregate mart: the
    delta batch's PARTIAL aggregates merge into the mart by summing
    per-key — the opposite contract from ``merge_upsert`` (which
    REPLACES a key's row). Valid for any commutative-monoid measure
    (counts, sums, min/max with the right combiner); averages must be
    carried as (sum, count) pairs and derived on read.

    At 100 TB this is why a daily ingest costs O(delta): the fact table
    is never re-scanned — each batch aggregates itself and merges
    key-wise into the mart (one small shuffle on the mart key)."""
    if old is None:
        return delta_agg
    allc = keys + sum_cols
    stacked = old.select(*allc).unionByName(delta_agg.select(*allc))
    return stacked.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def merge_aggregate_mart_to_path(
    delta_agg: DataFrame, path: str, keys: list[str], sum_cols: list[str]
) -> None:
    """Path-level IVM merge: read the mart if present, additively merge
    the delta's partial aggregates and swap the merged mart in with
    :func:`overwrite_path`, so a crash leaves the before or the after mart.
    One writer per mart (``writer_lock``)."""
    old = read_mart(delta_agg.sparkSession, path) if os.path.exists(path) else None
    overwrite_path(merge_aggregate_mart(old, delta_agg, keys, sum_cols), path)
