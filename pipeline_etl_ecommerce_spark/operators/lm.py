"""Character-trigram language-model perplexity — the CCNet-style quality
gate (Wenzek et al., 2020: bucket documents by LM perplexity per language;
low-perplexity ≈ fluent reference-like text).

The reference pipeline's quality gates are regex heuristics
(`tarefa_consolidar_dados.php` has no model-based scoring at all); this is
part of the LLM-training-data surface the engine adds on top. Instead of
shipping an external KenLM binary, the model is an add-α-smoothed
conditional character-trigram LM trained IN the engine:

    p(c₃ | c₁c₂) = (n(c₁c₂c₃) + α) / (n(c₁c₂·) + α·V)

with V = number of distinct next-characters observed in training. Every
step is relational — a groupBy for the counts, two broadcast joins + one
per-doc aggregate for scoring — so the whole gate is SQL-replayable
(DuckDB oracle replays it term-for-term) and embarrassingly scalable:

100 TB shape: the model table is bounded by charset³ regardless of corpus
size (a one-shuffle count over the training sample, itself typically a
small curated slice), so it broadcasts; scoring is map-side — the only
shuffle is the per-document aggregate, and document payloads never move
(only (doc_id, gram) pairs, which column-prune to a few bytes a row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["train_char_trigram_lm", "perplexity_scores"]


def _trigram_stream(df: DataFrame, text_col: str, id_cols: list[str]) -> DataFrame:
    """One row per character-trigram OCCURRENCE of ``lower(text)`` — full
    trigrams only (documents shorter than 3 chars emit nothing; unlike the
    profile-classifier grams there is no whole-short-text fallback, because
    a conditional LM needs a real (context, next) split). Same
    posexplode+substring codegen shape as ``textstats._char_gram_stream``."""
    t = F.lower(F.col(text_col))
    return (
        df.select(*id_cols, t.alias("_t"))
        .filter(F.length("_t") >= 3)
        .select(
            *id_cols,
            F.explode(F.sequence(F.lit(1), F.length("_t") - 2)).alias("_i"),
            "_t",
        )
        .select(
            *id_cols,
            F.expr("substring(_t, _i, 2)").alias("ctx"),
            F.expr("substring(_t, _i + 2, 1)").alias("nxt"),
        )
    )


def train_char_trigram_lm(df: DataFrame, text_col: str) -> DataFrame:
    """Count conditional trigram occurrences over the training slice:
    one row per observed (ctx, nxt) with its occurrence count as DOUBLE
    (double at the mart boundary so scoring arithmetic is float-for-float
    identical to a SQL replay). One shuffle, output bounded by charset³."""
    grams = _trigram_stream(df, text_col, [])
    return grams.groupBy("ctx", "nxt").agg(
        F.count(F.lit(1)).cast("double").alias("n_tri")
    )


def perplexity_scores(
    df: DataFrame,
    model: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Score every document's character-trigram perplexity under ``model``
    (output of :func:`train_char_trigram_lm`).

    Per trigram occurrence, with α = 0.5:
    logp = ln((n_tri + α) / (n_ctx + α·V)) with unseen (ctx, nxt) →
    n_tri = 0 and unseen ctx → n_ctx = 0 (the add-α mass handles both
    uniformly — an unseen context scores ln(1/V)).
    Per document: ``avg_logp`` = mean logp, ``ppl`` = exp(−avg_logp),
    both rounded to 6dp (absorbs summation-order ulps, same contract as
    the BM25/tf-idf family). Documents shorter than 3 chars emit no
    trigram and are absent from the output.

    Plan: context totals and the vocab size derive FROM the model table
    (charset-bounded), so both joins and the cross join broadcast; the
    only shuffle is the per-doc aggregate.

    An EMPTY model (training slice had no 3+-char docs) is rejected
    eagerly: v_chars = 0 would make every denominator 0 and every score
    NULL, and a NULL ppl silently DISABLES a downstream `ppl <= tau` gate
    instead of failing it (ADVICE r4). The existence probe is cheap by
    construction — the model mart is charset³-bounded.
    """
    if not model.head(1):
        raise ValueError(
            "perplexity_scores: empty LM model (no trigram was observed in "
            "the training slice) — every score would be NULL and a NULL ppl "
            "silently passes a ppl-threshold gate; train on 3+-char text"
        )
    ctx_tot = model.groupBy("ctx").agg(F.sum("n_tri").alias("n_ctx"))
    vocab = model.select("nxt").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("v_chars")
    )
    grams = _trigram_stream(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col)), text_col, ["doc_id"]
    )
    a = F.lit(0.5)
    logp = F.log(
        (F.coalesce(F.col("n_tri"), F.lit(0.0)) + a)
        / (F.coalesce(F.col("n_ctx"), F.lit(0.0)) + a * F.col("v_chars"))
    )
    scored = (
        grams.join(F.broadcast(model), ["ctx", "nxt"], "left")
        .join(F.broadcast(ctx_tot), ["ctx"], "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", logp.alias("logp"))
    )
    s, n = F.sum("logp"), F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        n.cast("long").alias("n_grams"),
        F.round(s / n, 6).alias("avg_logp"),
        F.round(F.exp(-(s / n)), 6).alias("ppl"),
    )
