"""Ranking / top-k / first-match operators (SURVEY.md §2.5 W4-W5, W7; §2.6).

The reference's versions are imperative: linear scans of paginated API results
with ``posicao = offset + index + 1`` (reference
``tarefa_coletar_posicionamento.php:64-93``), list-index-as-rank (reference
``tarefa_coletar_tendencias.php:30-35``), and loop-``break`` first-match
(reference ``worker_processar_estoque.php:158``). Spark-first: ``row_number``
windows and ``posexplode``.

``rank_per_group`` is the one place a per-group rank is made: every top-k,
first-per-group, position and rank-statistics pass in ``operators/`` and
``plans/`` (percentiles, postings caps, ANN probes and re-ranks) is a
``row_number`` over ``partitionBy(keys).orderBy(order)`` built there, with
the group size riding the same partitioning when a caller needs it.

Scale: a global ``row_number`` over one unpartitioned window is a single-task
sort — fine for the reference's 500-row search pages, wrong at 100 TB. All
helpers here take a partition key; ``rank_capture`` documents the
single-partition case as bounded by its ``limit``; and when a truly GLOBAL
exact order is required, ``distributed_global_rank`` / ``distributed_ntile``
compute it with a parallel range sort + bounded offset table instead of the
single reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _cols(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def rank_per_group(
    df: DataFrame,
    keys: str | list[str],
    order_by: list[Column | str],
    *,
    rank_col: str = "__rn",
    k: int | None = None,
    size_col: str | None = None,
    size_of: str = "*",
) -> DataFrame:
    """Add ``rank_col``, the 1-based ``row_number`` of each row within its
    ``keys`` group in ``order_by`` order; with ``k``, keep only ranks
    ``<= k``. ``size_col`` adds ``count(size_of)`` over the same
    partitioning (``"*"`` counts rows, a column name counts its non-NULL
    values), counted before the ``k`` filter. Both windows share one
    shuffle on the group key."""
    group = Window.partitionBy(*_cols(keys))
    order = [F.col(c) if isinstance(c, str) else c for c in order_by]
    out = df.withColumn(rank_col, F.row_number().over(group.orderBy(*order)))
    if size_col is not None:
        out = out.withColumn(size_col, F.count(size_of).over(group))
    if k is not None:
        out = out.filter(F.col(rank_col) <= k)
    return out


def first_per_group(df: DataFrame, keys: str | list[str], order_by: list[Column | str]) -> DataFrame:
    """W7: deterministic first row per group (reference's loop-``break``
    first-fulfillment-listing-per-SKU, ``worker_processar_estoque.php:158``)."""
    return top_k_per_group(df, keys, order_by, 1)


def top_k_per_group(
    df: DataFrame, keys: str | list[str], order_by: list[Column | str], k: int, *, rank_col: str | None = None
) -> DataFrame:
    """Top-k rows per group via row_number window; one shuffle on the group key."""
    ranked = rank_per_group(df, keys, order_by, rank_col=rank_col or "__rn", k=k)
    return ranked if rank_col else ranked.drop("__rn")


def distributed_global_rank(
    df: DataFrame,
    order_by: str | list[str],
    *,
    rank_col: str = "__rank",
    total_col: str | None = None,
    num_partitions: int = 32,
) -> DataFrame:
    """Exact 1-based global rank over a UNIQUE total order with NO
    single-reducer sort (the r8-verdict replacement for an unpartitioned
    ``Window.orderBy`` over unbounded rows):

    1. range-repartition on the order key and sort WITHIN each partition —
       the global sort runs in parallel across ``num_partitions`` tasks;
    2. contiguous per-partition row ids from ``monotonically_increasing_id``
       (``pid<<33 | i`` in row order), normalized by the per-partition min —
       no extra big-table shuffle, unlike ``Window.partitionBy(pid)`` which
       would re-hash the whole table to satisfy the window's clustering;
    3. per-partition (count, min_id) stats collapse map-side to ONE row per
       partition, so the only unpartitioned windows in the plan run over
       that ≤``num_partitions``-row bounded table;
    4. broadcast offsets back: global rank = local rank + running offset.

    ``order_by`` MUST be a unique key — ties straddling a range boundary
    would make ranks layout-dependent. A lazy ``localCheckpoint`` pins the
    nondeterministic pid/id columns so every DAG branch reads the same
    materialized partitions (the ``near_dup_pagerank`` precedent,
    ``operators/graph.py``).

    ``total_col``, when set, adds the global row count as a column (needed
    by closed-form NTILE); it rides the same broadcast, no extra pass.
    """
    keys = _cols(order_by)
    local = (
        df.repartitionByRange(num_partitions, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__dgr_pid", F.spark_partition_id())
        .withColumn("__dgr_mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    stats = local.groupBy("__dgr_pid").agg(
        F.count(F.lit(1)).alias("__dgr_cnt"), F.min("__dgr_mid").alias("__dgr_minmid")
    )
    w_prev = Window.orderBy("__dgr_pid").rowsBetween(Window.unboundedPreceding, -1)
    off_cols = [
        F.col("__dgr_pid"),
        F.col("__dgr_minmid"),
        F.coalesce(F.sum("__dgr_cnt").over(w_prev), F.lit(0))
        .cast("long")
        .alias("__dgr_off"),
    ]
    if total_col is not None:
        off_cols.append(
            F.sum("__dgr_cnt")
            .over(Window.partitionBy(F.lit(1)))
            .cast("long")
            .alias(total_col)
        )
    offsets = stats.select(*off_cols)
    out = (
        local.join(F.broadcast(offsets), "__dgr_pid")
        .withColumn(
            rank_col,
            F.col("__dgr_mid") - F.col("__dgr_minmid") + F.lit(1) + F.col("__dgr_off"),
        )
        .drop("__dgr_pid", "__dgr_mid", "__dgr_minmid", "__dgr_off")
    )
    return out


def distributed_ntile(
    df: DataFrame,
    n_tiles: int,
    order_by: str | list[str],
    *,
    tile_col: str = "__tile",
    num_partitions: int = 32,
) -> DataFrame:
    """Exact ``NTILE(n)`` over a UNIQUE total order, distributed: global
    rank via :func:`distributed_global_rank`, then the closed-form tile —
    the first ``n mod k`` tiles take ``ceil(n/k)`` rows, the rest
    ``floor(n/k)`` — in integer DIV so it stays exact at any cardinality.
    ``ceil(a/b) = (a + b - 1) DIV b``; the ELSE branch's ``DIV base`` is
    only reached when ``base > 0`` (when ``base = 0``, ``rem = n`` and
    every rank falls in the WHEN branch — CASE evaluates lazily, so no
    division by zero)."""
    if int(n_tiles) < 1:
        # ADVICE r9: k=0 reaches `% 0` / `DIV 0` in the tile expression —
        # silent NULL tiles in non-ANSI mode. Mirror the iters/max_depth
        # argument guards elsewhere.
        raise ValueError(f"n_tiles must be >= 1, got {n_tiles}")
    ranked = distributed_global_rank(
        df,
        order_by,
        rank_col="__dnt_rn",
        total_col="__dnt_n",
        num_partitions=num_partitions,
    )
    k = int(n_tiles)
    tile = F.expr(
        f"CAST(CASE WHEN __dnt_rn <= (__dnt_n % {k}) * (__dnt_n DIV {k} + 1)"
        f" THEN (__dnt_rn + __dnt_n DIV {k}) DIV (__dnt_n DIV {k} + 1)"
        f" ELSE __dnt_n % {k}"
        f"  + (__dnt_rn - (__dnt_n % {k}) * (__dnt_n DIV {k} + 1)"
        f"     + __dnt_n DIV {k} - 1) DIV (__dnt_n DIV {k})"
        f" END AS BIGINT)"
    )
    return ranked.withColumn(tile_col, tile).drop("__dnt_rn", "__dnt_n")


def rank_capture(
    df: DataFrame,
    *,
    order_by: list[Column | str],
    partition_by: str | list[str] | None = None,
    rank_col: str = "posicao",
    page_size: int | None = None,
    limit: int | None = None,
) -> DataFrame:
    """W4: assign 1-based positions in a defined order, with optional page
    number (reference ``posicao = offset + index + 1``, ``pagina = page``) and
    a scan cap (the reference stops after 10 pages × 50 = 500 results).

    With no ``partition_by`` the sort is global (single task after the range
    exchange) — only valid when ``limit`` bounds the result, as in the
    reference's 500-row cap.
    """
    out = rank_per_group(df, partition_by or [], order_by, rank_col=rank_col, k=limit)
    if page_size:
        out = out.withColumn("pagina", ((F.col(rank_col) - 1) / F.lit(page_size)).cast("int") + 1)
    return out
