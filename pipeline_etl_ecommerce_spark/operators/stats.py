"""Statistical profiling aggregates designed for cross-engine exactness.

The naive route — ``stddev(x)`` / ``corr(x, y)`` — is nondeterministic in a
distributed engine: float accumulation order differs per partitioning, and
a .005-tie then flips the rounded cent (NOTES.md invariant). These
operators instead aggregate EXACT DECIMAL POWER SUMS (n, Σx, Σx², Σxy —
each associative, order-independent, and map-side combinable) and derive
the moments with one fixed double-arithmetic expression afterwards. Any
engine computing the same formula from the same exact sums reproduces the
result bit-for-bit, while the heavy part stays a plain one-shuffle
hash-aggregate that scales like any groupBy.

``group_percentiles`` (nearest-rank, type-1: an integer rank pick, no
interpolation arithmetic to diverge between engines) and
``group_percentiles_cont`` (linear, type-7) select from the same rank pass:
one shuffle on the group key, each group's values sorted within its
partition and numbered by ``ranking.rank_per_group``, then one row per
group. NULL values rank last and are not counted in ``n``, as in SQL's
``percentile_disc`` / ``percentile_cont``; an all-NULL group keeps its row
with NULL percentiles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ranking import rank_per_group

# 18,6 not 38,6: products of two decimal(18,6) stay within precision 38
# (37,12 — exact); decimal(38,6)² would trip Spark's precision-loss scale
# adjustment and the sums would no longer be bit-identical across engines.
_DEC = "decimal(18,6)"


def descriptive_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str | None = None,
) -> DataFrame:
    """Per-group n / mean / sample stddev of ``x_col`` (and, with a
    ``y_col``, the Pearson correlation), derived from exact decimal sums.
    All moments rounded to 6dp."""
    x = F.col(x_col).cast(_DEC)
    aggs = [
        F.count("*").alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(x * x).alias("__sxx"),
    ]
    if y_col is not None:
        y = F.col(y_col).cast(_DEC)
        aggs += [F.sum(y).alias("__sy"), F.sum(y * y).alias("__syy"),
                 F.sum(x * y).alias("__sxy")]
    g = df.groupBy(*group_cols).agg(*aggs)
    n = F.col("n").cast("double")
    sx, sxx = F.col("__sx").cast("double"), F.col("__sxx").cast("double")
    out_cols: list[Column] = [
        F.round(sx / n, 6).alias("mean_x"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0))), 6).alias("stddev_x"),
    ]
    if y_col is not None:
        sy, syy = F.col("__sy").cast("double"), F.col("__syy").cast("double")
        sxy = F.col("__sxy").cast("double")
        out_cols.append(
            F.round(
                (n * sxy - sx * sy)
                / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                6,
            ).alias("corr_xy")
        )
    return g.select(*group_cols, "n", *out_cols)


def _names(percentiles: Sequence[float], out_names: Sequence[str] | None) -> list[str]:
    if out_names is not None:
        return list(out_names)
    return [f"p{str(p).replace('0.', '').ljust(2, '0')}" for p in percentiles]


def _rank_pick(
    df: DataFrame, group_cols: Sequence[str], value_col: str, picks: dict[str, Column]
) -> DataFrame:
    """The rank pass both percentile types select from: one row per group
    with ``__n`` (its non-NULL value count) and, per ``picks`` entry, the
    value at that rank — a Column over ``__n``, NULL when no row has it."""
    v = F.col(value_col)
    ranked = rank_per_group(
        df.select(*group_cols, value_col), list(group_cols), [v.asc_nulls_last()],
        rank_col="__rk", size_col="__n", size_of=value_col,
    )
    aggs = [F.max(F.when(F.col("__rk") == r, v)).alias(a) for a, r in picks.items()]
    return ranked.groupBy(*group_cols).agg(*aggs, F.max("__n").alias("__n"))


def group_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    percentiles: Sequence[float],
    *,
    out_names: Sequence[str] | None = None,
    n_col: str | None = None,
) -> DataFrame:
    """Exact nearest-rank (type-1) percentiles per group: the value at rank
    ``ceil(p * n)`` in ascending order. Integer rank selection — identical
    on every engine, no interpolation. One shuffle; a conditional max per
    percentile picks the selected rank in the one-row-per-group aggregation.
    ``n_col`` additionally emits the group's non-NULL value count — it
    rides the rank pass's own count, so callers that need n (e.g.
    ``group_mad``) skip a separate counting scan."""
    names = _names(percentiles, out_names)
    n = F.col("__n")
    picks = {
        name: F.ceil(F.lit(float(p)) * n).cast("long") for p, name in zip(percentiles, names)
    }
    extra = [n.alias(n_col)] if n_col is not None else []
    return _rank_pick(df, group_cols, value_col, picks).select(*group_cols, *names, *extra)


def fixed_histogram(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    lo: float,
    width: float,
    n_buckets: int,
) -> DataFrame:
    """Fixed-bound equi-width histogram: bucket i covers
    ``[lo + i*width, lo + (i+1)*width)``; values past the top land in the
    last bucket, below ``lo`` in bucket 0. Static bounds — no global
    min/max pre-pass, so the whole thing is one map + one groupBy and the
    bucketing is reproducible across engines and data shards."""
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1)).cast("long")
    return (
        df.withColumn("bucket", bucket)
        .groupBy(*group_cols, "bucket")
        .agg(F.count("*").alias("n_rows"))
    )


def group_percentiles_cont(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    percentiles: Sequence[float],
    *,
    out_names: Sequence[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Linear-interpolation percentiles (SQL ``percentile_cont`` / type-7)
    per group, DISTRIBUTED: rank rows in one window pass, select the two
    bracketing ranks per percentile with conditional aggregation, and
    interpolate ``v_lo + frac * (v_hi - v_lo)`` at position
    ``p * (n - 1)`` — the same arithmetic Spark's built-in ``percentile``
    and DuckDB's ``quantile_cont`` use, WITHOUT the built-in's failure
    mode: the native aggregate buffers every value of a group in one
    reducer's memory, which is exactly what dies on a 100 TB group. Here
    the heavy work is a sort within hash partitions and each group
    collapses to one row before the final aggregation (measured ~2.5x
    faster than the native aggregate at sf0.1)."""
    names = _names(percentiles, out_names)
    pos = {
        name: F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        for p, name in zip(percentiles, names)
    }
    picks = {}
    for name in names:
        lo_rank = F.floor(pos[name]).cast("long") + 1
        picks.update({f"__lo_{name}": lo_rank, f"__hi_{name}": lo_rank + 1})
    outs = []
    for name in names:
        frac = pos[name] - F.floor(pos[name]).cast("double")
        lo, hi = F.col(f"__lo_{name}"), F.col(f"__hi_{name}")
        val = F.when(hi.isNull() | (frac == 0.0), lo).otherwise(lo + frac * (hi - lo))
        outs.append(F.round(val, round_to).alias(name))
    return _rank_pick(df, group_cols, value_col, picks).select(*group_cols, *outs)


def winsorized_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    lo_p: float = 0.05,
    hi_p: float = 0.95,
) -> DataFrame:
    """Robust per-group aggregates: clip ``value_col`` to its group's
    nearest-rank [lo_p, hi_p] percentiles (winsorization), then aggregate
    the clipped values — the standard outlier-tolerant mean/total for
    metric columns where a handful of extreme rows would otherwise own
    the statistic.

    Two passes over the group, no quadratic anything: the threshold table
    from ``group_percentiles`` is one row per group, so it broadcasts back
    onto the rows; the clipped aggregate sums in DECIMAL (order-exact).
    NULL values are neither clipped nor counted in ``n`` or the mean.
    Output: group cols, n, p_lo, p_hi, winsorized_sum, winsorized_mean."""
    gl = list(group_cols)
    thresholds = group_percentiles(
        df, gl, value_col, [lo_p, hi_p], out_names=["p_lo", "p_hi"]
    )
    v = F.col(value_col)
    # a NULL value stays NULL: GREATEST/LEAST skip NULLs and would clip it to p_lo
    clip = F.when(v.isNotNull(), F.least(F.greatest(v, F.col("p_lo")), F.col("p_hi")))
    clipped = df.select(*gl, value_col).join(F.broadcast(thresholds), gl).withColumn(
        "__w", clip.cast("decimal(18,2)")
    )
    return clipped.groupBy(*gl).agg(
        F.count(value_col).alias("n"),
        F.max("p_lo").alias("p_lo"),
        F.max("p_hi").alias("p_hi"),
        F.round(F.sum("__w"), 2).cast("double").alias("winsorized_sum"),
        F.round(F.sum("__w").cast("double") / F.count(value_col), 6).alias("winsorized_mean"),
    )


def group_mad(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    estimate (stddev breaks on one wild outlier; MAD ignores half the
    data going bad). Nearest-rank (type-1) medians both times, so every
    selected value is an actual data value and the result is
    engine-exact with no interpolation arithmetic.

    Two passes, each one window over the same group partitioning: median
    of x, broadcast back (one row per group), then median of |x - med|.
    Output: group cols, n, median, mad."""
    gl = list(group_cols)
    # r10: the median pass emits the group count from its own window
    # column (n_col) — the previous separate count(*) scan over df and its
    # third join bought nothing.
    med = group_percentiles(
        df, gl, value_col, [0.5], out_names=["median"], n_col="n"
    )
    dev = (
        df.select(*gl, value_col)
        .join(F.broadcast(med), gl)
        .withColumn("__dev", F.abs(F.col(value_col) - F.col("median")))
    )
    mad = group_percentiles(dev, gl, "__dev", [0.5], out_names=["mad"])
    return med.join(mad, gl).select(*gl, "n", "median", "mad")
