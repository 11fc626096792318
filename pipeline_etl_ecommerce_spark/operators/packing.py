"""Sequence packing: assemble documents into fixed token-budget packs — the
step that turns a curated corpus into training sequences.

Greedy offset-binning semantics (the distributed-friendly standard): within
a shard, documents are laid end-to-end in a deterministic order and a doc
belongs to pack ``floor(start_offset / budget)``. Documents are never split;
a pack can therefore overflow by at most one document's tokens (exactly the
behavior of greedy sequence packing with document boundaries respected).

Scale shape: ONE window per shard (`PARTITION BY shard ORDER BY id`), so
parallelism = shard count and no global sort exists. Shard by a natural
column (source, language, date) — the same sharding a 100 TB tokenization
job would use. A single-shard call is the explicit small-data escape hatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    *,
    budget: int,
    shard_col: str | None = None,
) -> DataFrame:
    """Add ``pack_id`` (per-shard) and ``pack_offset`` (token start within
    the pack's budget grid) to every row. Deterministic: order is
    (shard, id), no RNG, no state."""
    shard = F.col(shard_col) if shard_col else F.lit(0)
    w = Window.partitionBy(shard).orderBy(F.col(id_col))
    cum_excl = F.sum(F.col(token_col)).over(w) - F.col(token_col)
    return df.withColumn("pack_id", F.floor(cum_excl / budget).cast("long")).withColumn(
        "pack_offset", (cum_excl % budget).cast("long")
    )


def assemble_packs(
    packed: DataFrame,
    id_col: str,
    text_col: str,
    token_col: str,
    *,
    shard_col: str | None = None,
) -> DataFrame:
    """Materialize each pack as ONE training sequence: group by
    (shard, pack_id), join member texts with single spaces in id order.

    Order inside the pack must be deterministic and ``collect_list`` gives
    no ordering guarantee under a shuffle, so members are collected as
    (id, text) structs and ``array_sort``ed (struct ordering = field order,
    id first) before joining — reproducible regardless of partitioning.
    One shuffle on (shard, pack_id), which the upstream window already
    partitioned by shard."""
    keys = ([shard_col] if shard_col else []) + ["pack_id"]
    members = F.array_sort(
        F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(text_col).alias("t")))
    )
    return packed.groupBy(*keys).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(token_col)).cast("long").alias("pack_tokens"),
        F.concat_ws(" ", F.transform(members, lambda s: s["t"])).alias("packed_text"),
    )
