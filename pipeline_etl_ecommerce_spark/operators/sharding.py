"""Deterministic global shuffle + sharding for training-data export.

Training wants the corpus in a RANDOM but REPRODUCIBLE order, cut into
fixed shard files. ``ORDER BY rand()`` is neither (and a global sort of
100 TB is a full-cluster range shuffle anyway). Instead: order by an
identity hash — shard = the hash's high bits, position = rank of the hash
within the shard. Properties:

- the permutation is a pure function of (seed, doc id): stable across
  runs, engines, partitionings, and cluster sizes;
- changing the seed is a fresh epoch-level reshuffle with zero state;
- shards are balanced in expectation (hash-uniform) and each shard's
  internal sort is independent — parallelism = n_shards, never a single
  global range partition.

Same string-land md5 contract as ``operators.sampling`` — the shard
boundaries are hex-string thresholds, so any engine with md5 + substr
reproduces the layout bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ranking import rank_per_group
from .sampling import _hex_threshold


def _hash8(id_col: Column, seed: str) -> Column:
    return F.substring(
        F.md5(F.concat_ws("|", F.lit(seed), id_col.cast("string")).cast("binary")), 1, 8
    )


def shard_of(id_col: Column, *, n_shards: int, seed: str = "0") -> Column:
    """Shard index in [0, n_shards) from equal-width hex-hash ranges."""
    h = _hash8(id_col, seed)
    shard: Column = F.lit(n_shards - 1)
    for k in range(n_shards - 1, 0, -1):
        shard = F.when(h < _hex_threshold(k / n_shards), F.lit(k - 1)).otherwise(shard)
    return shard


def shuffle_shards(
    df: DataFrame, id_col: str, *, n_shards: int = 8, seed: str = "0"
) -> DataFrame:
    """Assign (shard, pos): a deterministic global shuffle. ``pos`` ranks
    the identity hash within the shard (id tiebreak for md5-prefix
    collisions). Writing ``partitionBy(shard) sortBy(pos)`` materializes
    the epoch's training order."""
    keyed = df.withColumn("h8", _hash8(F.col(id_col), seed)).withColumn(
        "shard", shard_of(F.col(id_col), n_shards=n_shards, seed=seed)
    )
    ranked = rank_per_group(keyed, "shard", ["h8", id_col], rank_col="pos")
    return ranked.withColumn("pos", F.col("pos").cast("long")).drop("h8")
