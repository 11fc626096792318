"""Data Selection via Importance Resampling (DSIR)-style importance
weights over hashed n-gram features — the published recipe (Xie et al.
2023, "Data Selection for Language Models via Importance Resampling")
for steering a raw crawl toward a target distribution: featurize every
document as a bag of hashed n-grams, fit bag-of-words models on the
TARGET corpus and the RAW corpus, and weight each raw document by its
target/raw likelihood ratio.

Spark-first shape, end to end in whole-stage codegen:

1. one token explode over the corpus (the only fan-out);
2. hashed-bucket counts for raw and target in a SINGLE pass — the target
   membership is a flag summed alongside the raw count, so the two
   distributions cost one aggregate over ``N_BUCKETS`` rows;
3. the per-bucket likelihood ratio table (Laplace-smoothed) is tiny
   (``N_BUCKETS`` rows) and BROADCASTS onto the token stream;
4. per-document reduce — map-side partial agg, one shuffle keyed on the
   doc id.

At 100 TB the bucket-distribution table is a persisted mart refreshed
with the corpus (two tiny rereads here keep the operator self-contained;
the lineage below the distribution agg is map-only, so the recompute is
one extra scan, not an extra shuffle).

Cross-engine determinism (the repo's oracle-exactness discipline):
- the feature hash is md5-hexit arithmetic (DuckDB replays it exactly —
  the same idiom as the minhash/model-stub oracles);
- the published formulation sums LOG ratios; log() is libm-dependent and
  not bit-stable across engines, so the weight here is the per-token MEAN
  likelihood ratio — same ordering signal for selection/resampling, but
  built only from IEEE-exact multiply/divide on integer-valued doubles.
  Per-token ratios are rounded at 8dp and summed in DECIMAL so partition
  order can never move the result.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 64  # hashed unigram buckets per distribution


def _widen(df: DataFrame) -> DataFrame:
    """Ensure the doc stream has at least the cluster's default parallelism.

    Parquet split sizing is BYTE-based (maxPartitionBytes = 128 MB), but
    this operator's cost per byte is enormous (per-token md5 + base-16
    conv, twice). A compressed text corpus small enough to fit one split
    still carries minutes of CPU — the 10× scale stress measured 20×
    wall BECAUSE both scales ran the whole tokenize on ONE core. The
    repartition is a no-op on real big inputs (splits already exceed
    defaultParallelism) and costs one small doc-row shuffle otherwise;
    downstream aggregates are order-insensitive by construction, so
    round-robin redistribution cannot move any result."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _widen_by(df: DataFrame, *key_cols: str) -> DataFrame:
    """``_widen`` for inputs consumed by an ORDER-INDEPENDENT aggregation:
    redistribute by a deterministic hash of ``key_cols`` instead of
    round-robin. Same no-op guard on real multi-split inputs; the keyed
    exchange skips round-robin's sort-before-repartition pass (SPARK-23207
    requires the sort only for nondeterministic row routing — a hash of
    data columns is retry-stable by itself). Use when the downstream
    aggregate, not the row order, defines the result — e.g. exact
    percentile's counts-map or banded sketches."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df


def _tokens(df: DataFrame, text_col: str, id_col: str, extra: list[str]) -> DataFrame:
    return df.select(
        id_col,
        *extra,
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
        ).alias("tok"),
    )


def _bucket(col: Column) -> Column:
    # first 6 md5 hexits -> integer -> bucket; exact in any engine
    return (F.conv(F.substring(F.md5(col.cast("binary")), 1, 6), 16, 10).cast("long")
            % F.lit(N_BUCKETS))


def hashed_bucket_distribution(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_pred: Column,
) -> DataFrame:
    """One-pass raw + target hashed-unigram bucket counts:
    (bucket, raw_count, target_count). ``target_pred`` marks the rows of
    the target corpus (e.g. a trusted high-quality slice)."""
    toks = _tokens(df.withColumn("__is_t", target_pred.cast("long")), text_col, id_col, ["__is_t"])
    return (
        toks.withColumn("bucket", _bucket(F.col("tok")))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("raw_count"),
            F.sum("__is_t").alias("target_count"),
        )
    )


def dsir_importance_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_pred: Column,
) -> DataFrame:
    """Per-document importance weight: mean Laplace-smoothed
    target/raw likelihood ratio of the document's hashed unigram buckets.
    Output: (id_col, n_tokens, importance_weight) — feed the weight to
    ``weighted_sample_topk`` to complete the DSIR select-by-resampling
    loop (weight ∝ p_target / p_raw, exactly the paper's estimator with a
    mean-of-ratios aggregation instead of sum-of-logs; see module doc)."""
    df = _widen(df)
    dist = hashed_bucket_distribution(df, text_col, id_col, target_pred)
    # totals over N_BUCKETS rows: a scalar-sized cross join both engines
    # plan as a broadcast nested loop over one row
    tot = dist.agg(
        F.sum("raw_count").alias("__nr"), F.sum("target_count").alias("__nt")
    )
    b = F.lit(float(N_BUCKETS))
    ratio = dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            ((F.col("target_count") + 1).cast("double") * (F.col("__nr").cast("double") + b))
            / ((F.col("raw_count") + 1).cast("double") * (F.col("__nt").cast("double") + b)),
            8,
        ).alias("bucket_ratio"),
    )
    toks = _tokens(df, text_col, id_col, []).withColumn("bucket", _bucket(F.col("tok")))
    return (
        toks.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum(F.col("bucket_ratio").cast("decimal(28,8)")).cast("double")
                / F.count("*"),
                6,
            ).alias("importance_weight"),
        )
    )
