"""Z-order (Morton curve) data layout — multi-column file clustering.

At 100 TB the scan you avoid is worth more than the scan you optimize:
parquet readers prune whole files/row-groups from column min/max stats, but
a sort on one column destroys locality on every other. Interleaving the
bits of several columns (the Z-order curve — the same layout Delta's
``OPTIMIZE ZORDER BY`` and Iceberg's ``rewrite_data_files(strategy =>
'sort', sort_order => zorder(...))`` apply) keeps each file's min/max range
narrow on ALL participating columns at once, so predicates on any subset
still skip most files.

Everything here is exact integer arithmetic (shift/and/multiply — no
floats, no rank windows), so the key is bit-identical in ANSI SQL and the
DuckDB oracle replays it term for term. The per-bit expression tree
(``bits × n_cols`` shift-and-add terms) stays inside whole-stage codegen;
it is evaluated once per row (O(n)), unlike the k-fold distance tree
rejected in clustering.py (O(n·k)).

Scale shape: ``write_zordered`` is ONE range-shuffle on the z-key (the same
cost as any global sort) followed by a per-file local sort — the standard
one-pass table-maintenance rewrite, safe to schedule per partition/day.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["quantize", "write_zordered", "zorder_key"]


def quantize(col: Column, lo: int, *, range_bits: int, bits: int) -> Column:
    """Clamp an INTEGER column to ``[lo, lo + 2^range_bits)`` and keep its
    top ``bits`` bits: ``(clamped - lo) >> (range_bits - bits)`` — pure
    shifts, no division, no doubles, so the bucket id is engine-exact and
    trivially replayable in SQL. ``lo``/``range_bits`` are caller-supplied
    domain bounds (table stats at scale, padded up to a power of two), not
    computed here: a data-dependent min/max would make the key unstable
    across ingests."""
    if bits <= 0 or bits > range_bits:
        raise ValueError("quantize: need 0 < bits <= range_bits")
    hi = lo + (1 << range_bits) - 1
    clamped = F.greatest(F.least(col.cast("long"), F.lit(hi)), F.lit(lo))
    return F.shiftright(clamped - F.lit(lo), range_bits - bits)


def zorder_key(cols: list[Column], *, bits: int = 16) -> Column:
    """Morton key: interleave the low ``bits`` bits of 2+ non-negative
    integer (already-quantized) columns. Column j's bit i lands at output
    position ``i * n_cols + j``, so equal prefixes in z order mean equal
    high bits in EVERY column — the locality property file skipping needs.

    Built as a flat sum of ``((col >> i) & 1) << (i*d + j)`` terms: exact
    int64 (``bits * n_cols`` must be ≤ 63), codegen-friendly, and the SQL
    oracle replays the identical expression."""
    d = len(cols)
    if d < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if bits <= 0 or bits * d > 63:
        raise ValueError(f"bits * n_cols must be in 1..63, got {bits * d}")
    terms = []
    for j, c in enumerate(cols):
        lc = c.cast("long")
        for i in range(bits):
            terms.append(
                (F.shiftright(lc, i).bitwiseAND(F.lit(1))) * F.lit(1 << (i * d + j))
            )
    return reduce(lambda a, b: a + b, terms).alias("zkey")


def zorder_key_sql(col_sqls: list[str], *, bits: int = 16) -> str:
    """The DuckDB/ANSI twin of :func:`zorder_key` — same flat bit sum, for
    oracle construction. ``col_sqls`` are integer SQL expressions."""
    d = len(col_sqls)
    terms = [
        f"((({c}) >> {i}) & 1) * {1 << (i * d + j)}"
        for j, c in enumerate(col_sqls)
        for i in range(bits)
    ]
    return " + ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[Column],
    *,
    bits: int = 16,
    target_files: int = 8,
    keep_key: bool = False,
) -> None:
    """Rewrite ``df`` (overwriting ``path``) as ``target_files`` parquet
    files clustered on the Z-curve of ``cols``: one range shuffle on the
    z-key, a local sort inside each range. Each output file then holds a
    contiguous z-range — narrow min/max on every participating column. ``keep_key=True`` persists the
    ``__zkey`` column so readers can range-filter on it directly; the
    default drops it."""
    keyed = df.withColumn("__zkey", zorder_key(cols, bits=bits))
    ranged = keyed.repartitionByRange(target_files, "__zkey").sortWithinPartitions(
        "__zkey"
    )
    if not keep_key:
        ranged = ranged.drop("__zkey")
    ranged.write.mode("overwrite").parquet(path)


def recluster_zordered(
    spark,
    path: str,
    cols: list[Column],
    *,
    bits: int = 16,
    target_files: int = 8,
) -> int:
    """Table maintenance: rewrite an EXISTING parquet path into
    ``target_files`` Z-clustered files IN PLACE — the scheduled job that
    repairs the layout after appends/streaming upserts fragment it (the
    Delta ``OPTIMIZE ZORDER BY`` maintenance shape). Like ``compact_path``
    it swaps the new layout in through ``sinks.overwrite_path``: the new
    files fully materialize in a staging dir before one journaled commit
    moves them in and drops the old ones, so a crash leaves the old or the
    new layout. A reader that lists the path during the commit is not
    isolated and may see both; schedule under ``sinks.writer_lock``.
    Returns the post-rewrite file count."""
    import glob
    import os

    from ..sources.sinks import overwrite_path, read_mart

    df = read_mart(spark, path)
    keyed = df.withColumn("__zkey", zorder_key(cols, bits=bits))
    ranged = (
        keyed.repartitionByRange(target_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    overwrite_path(ranged, path)
    return len(glob.glob(os.path.join(path, "*.parquet")))
