"""Deterministic sampling & splitting for training-data pipelines.

A 100 TB corpus pipeline needs reproducible, engine-independent answers to
"which split is this document in?" and "is this row in the p% sample?" —
`df.sample()` (seeded RNG, partition-dependent) cannot give either. These
operators decide per-row from a hash of the row's OWN identity, so:

- assignment is stable across runs, engines, partitionings, and cluster
  sizes (a doc never migrates from test to train after a re-shard);
- delta ingests are consistent: new docs join the same split scheme with
  no coordination or state;
- any engine with md5 + substring reproduces the decision bit-for-bit
  (same cross-engine determinism contract as the dedup family).

Mechanism: the first 8 hex chars of md5(identity) are a uniform draw from
[0, 16^8); comparing against ``fraction * 16^8`` AS A HEX STRING keeps the
whole decision in string-land — no 64-bit unsigned conversions that differ
between engines. All map-only expressions: zero shuffles, zero UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ranking import top_k_per_group


def _hex_threshold(fraction: float) -> str:
    """8-hex-char threshold such that P[hash8 < threshold] == fraction.
    fraction >= 1.0 returns 'g', which compares greater than every hex
    string (hex digits are 0-9a-f), so everything passes."""
    f = max(float(fraction), 0.0)
    if f >= 1.0:
        return "g"
    return format(int(f * 16**8), "08x")


def _hash8(*cols: Column) -> Column:
    return F.substring(F.md5(F.concat_ws("|", *cols).cast("binary")), 1, 8)


def deterministic_split(
    df: DataFrame,
    id_col: str,
    *,
    train: float = 0.8,
    val: float = 0.1,
) -> DataFrame:
    """Set every row's ``split`` to 'train' / 'val' / 'test' by identity hash.
    Proportions are (train, val, 1 - train - val); assignment depends only
    on the row id, never on data layout or run order."""
    h = _hash8(F.col(id_col).cast("string"))
    split = (
        F.when(h < _hex_threshold(train), "train")
        .when(h < _hex_threshold(train + val), "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def stratified_sample(
    df: DataFrame, strata_col: str, id_col: str, *, fraction: float
) -> DataFrame:
    """Keep ~``fraction`` of the rows of EVERY stratum. The hash mixes the
    stratum into the identity, so per-stratum draws are independent — a
    stratum is never over/under-sampled because its ids cluster in hash
    space shared with another stratum."""
    h = _hash8(F.col(strata_col).cast("string"), F.col(id_col).cast("string"))
    return df.filter(h < _hex_threshold(fraction))


def temperature_mixture_sample(
    df: DataFrame, strata_col: str, id_col: str, *, alpha: float = 0.5, budget: int = 1000
) -> DataFrame:
    """Temperature-based source mixture: sample ~``budget`` rows total with
    per-stratum shares proportional to ``count^alpha`` (alpha<1 flattens a
    skewed source/language distribution — the standard multilingual-corpus
    rebalancing trick). Dominant strata are downsampled hard; rare strata
    keep up to all of their rows (rate capped at 1.0).

    Per-stratum keep-rate: ``least(1, budget * w_s / n_s)`` with
    ``w_s = n_s^alpha / Σ n_t^alpha``. Row membership then uses the same
    identity-hash draw as ``stratified_sample``, so the decision is
    deterministic and engine-independent. Cross-engine float discipline:
    ``n^alpha`` is rounded to 6dp and summed in DECIMAL (order-independent),
    and the final rate is rounded to 6dp before the hex threshold is built —
    both engines then compare identical strings.

    Scale shape: one count aggregation over the strata (tiny result),
    broadcast back onto the fact; the filter itself is map-only."""
    cnt = df.groupBy(F.col(strata_col).alias("_stratum")).agg(F.count("*").alias("_n"))
    pw = cnt.withColumn(
        "_p", F.round(F.pow(F.col("_n"), F.lit(float(alpha))), 6).cast("decimal(38,6)")
    )
    tot = pw.agg(F.sum("_p").alias("_tp"))
    rates = (
        pw.crossJoin(F.broadcast(tot))
        .withColumn(
            "keep_rate",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(int(budget))
                    * (F.col("_p").cast("double") / F.col("_tp").cast("double"))
                    / F.col("_n"),
                ),
                6,
            ),
        )
        .withColumn(
            "_thr",
            F.when(F.col("keep_rate") >= 1.0, F.lit("g")).otherwise(
                F.lpad(
                    F.lower(F.hex(F.floor(F.col("keep_rate") * F.lit(float(16**8))).cast("bigint"))),
                    8,
                    "0",
                )
            ),
        )
        .select("_stratum", "keep_rate", "_thr")
    )
    h = _hash8(F.col(strata_col).cast("string"), F.col(id_col).cast("string"))
    return (
        df.join(F.broadcast(rates), df[strata_col] == rates["_stratum"])
        .filter(h < F.col("_thr"))
        .drop("_stratum", "_thr")
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    *,
    k: int,
    strata_col: str | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    each row draws a uniform u from its identity hash and scores
    ``u^(1/weight)``; the k largest scores are the sample, so selection
    probability is proportional to weight — quality-weighted corpus
    selection with the same determinism contract as the other samplers
    (identity-hash draw: stable across runs/engines/layouts, delta-ingest
    consistent, no RNG state).

    Cross-engine float discipline (NOTES.md pinned-arithmetic rule): u is
    an exact integer ratio from the first 8 hash hexits, and the only libm
    call (pow) is rounded to 9dp before ranking with an id tie-break, so
    both engines rank identical numbers.

    Scale shape: map-only scoring; global top-k plans as
    TakeOrderedAndProject (no global sort), per-stratum top-k is one window over
    the stratum shuffle. Rows with weight <= 0 are excluded (a zero-weight
    row has selection probability 0)."""
    if k <= 0:
        raise ValueError("k must be positive")
    ident = ([F.col(strata_col).cast("string")] if strata_col else []) + [
        F.col(id_col).cast("string")
    ]
    h = _hash8(*ident)
    u = (F.conv(h, 16, 10).cast("double") + F.lit(1.0)) / F.lit(float(16**8 + 1))
    score = F.round(F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 9)
    scored = (
        df.filter(F.col(weight_col) > 0)
        .withColumn("sample_score", score)
    )
    if strata_col is None:
        return scored.orderBy(F.col("sample_score").desc(), F.col(id_col)).limit(k)
    return top_k_per_group(scored, strata_col, [F.col("sample_score").desc(), F.col(id_col)], k)


def hash_topk_sample(
    df: DataFrame, strata_col: str, id_col: str, *, k: int
) -> DataFrame:
    """EXACTLY k rows per stratum (fewer when the stratum is smaller):
    the k rows with the smallest identity hashes. Rate-based sampling
    (``stratified_sample``) only hits its fraction in expectation; this
    variant gives hard per-stratum counts — eval-set construction, per-source
    quotas — while keeping the same determinism contract: membership depends
    only on row identity, so re-shards and re-runs pick the identical set,
    and any engine with md5 reproduces it.

    Scale shape: one shuffle on the stratum key; rank-within-group is a
    window over that partitioning. For very hot strata Spark's window sort
    dominates — pre-filter with a rate threshold slightly above k/n first
    if strata are huge."""
    if k <= 0:
        raise ValueError("k must be positive")
    h = _hash8(F.col(strata_col).cast("string"), F.col(id_col).cast("string"))
    return top_k_per_group(df.withColumn("_h8", h), strata_col, ["_h8", id_col], k).drop("_h8")


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    id_col: str,
    *,
    budget: int,
) -> DataFrame:
    """Mixture sampling by TOKEN budget, not document count — the unit
    data mixtures are actually specified in (a source's contribution to a
    training run is its token mass). Per stratum, documents are taken in
    identity-hash order (the same deterministic draw as the other
    samplers: stable across runs, engines, layouts, and delta ingests)
    until the stratum's cumulative tokens reach ``budget``; the boundary
    document that crosses the budget IS included, so every stratum with
    enough mass contributes at least ``budget`` tokens.

    One shuffle (the per-stratum window); the cumulative sum is integer
    arithmetic, engine-exact. Output adds ``cum_tokens_before`` — the
    stratum's token mass before this doc in hash order."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    from pyspark.sql.window import Window

    h = _hash8(F.col(strata_col).cast("string"), F.col(id_col).cast("string"))
    w = (
        Window.partitionBy(strata_col)
        .orderBy(h, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn(
        "cum_tokens_before",
        (F.sum(F.col(token_col).cast("long")).over(w) - F.col(token_col).cast("long")),
    )
    return out.filter(F.col("cum_tokens_before") < budget)
