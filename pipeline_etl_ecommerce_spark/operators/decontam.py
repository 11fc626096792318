"""Train/test decontamination: flag training documents that contain any
word n-gram from an evaluation set.

The standard pre-training hygiene step (GPT-3 appendix C / PaLM style):
benchmark leakage is detected by n-gram collision, not whole-doc equality.
Scale shape: the eval set is orders of magnitude smaller than the corpus,
so its distinct n-gram set is built once and BROADCAST; the training side
is then a map-side explode + broadcast-hash semi-join + one groupBy on
doc_id — the only shuffle is the final per-doc count, which partial-aggs
map-side. No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens with empties dropped."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != F.lit(""))


def _gram_rows(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """One row per (doc_id, distinct word n-gram). The n-gram array is built
    from the token array with a transform-over-sequence (no self-join, no
    shuffle); docs shorter than ``n`` tokens contribute nothing."""
    base = df.select(
        F.col(id_col).alias("doc_id"), word_tokens(F.col(text_col)).alias("t")
    )
    joined = ", ".join(f"element_at(t, i + {k})" for k in range(n))
    grams = F.expr(
        f"CASE WHEN size(t) >= {n}"
        f" THEN transform(sequence(1, size(t) - {n - 1}), i -> concat_ws(' ', {joined}))"
        " ELSE array() END"
    )
    return base.select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))


def contamination_report(
    train: DataFrame, test: DataFrame, text_col: str, id_col: str, *, n: int = 8
) -> DataFrame:
    """One row per training doc that shares >= 1 word ``n``-gram with the
    eval set: (doc_id, n_contaminated_grams, n_grams, contaminated_frac).

    Distinct grams per doc on both sides, so a gram repeated inside one doc
    counts once. The eval gram set is broadcast — at 100 TB the corpus side
    never shuffles on gram."""
    test_grams = _gram_rows(test, text_col, id_col, n).select("gram").distinct()
    train_grams = _gram_rows(train, text_col, id_col, n)
    per_doc = train_grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        train_grams.join(F.broadcast(test_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
    )
    return (
        hits.join(per_doc, "doc_id")
        .select(
            "doc_id",
            F.col("n_contaminated_grams").cast("long").alias("n_contaminated_grams"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.round(
                F.col("n_contaminated_grams").cast("double") / F.col("n_grams"), 6
            ).alias("contaminated_frac"),
        )
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 8,
    max_frac: float = 0.0,
) -> DataFrame:
    """Drop training docs whose contaminated-gram fraction exceeds
    ``max_frac`` (default: any collision at all). Anti-join against the
    report keeps the corpus side streaming."""
    bad = contamination_report(train, test, text_col, id_col, n=n).filter(
        F.col("contaminated_frac") > max_frac
    )
    return train.join(bad, train[id_col] == bad["doc_id"], "left_anti")


def semantic_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    *,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-proximity decontamination — the semantic sibling of the
    n-gram ``contamination_report``: both frames carry ``(vec_id,
    embedding)``, and a corpus item whose embedding is within ``threshold``
    cosine of ANY eval-set item is contaminated even when no exact n-gram
    survives paraphrase. Returns one row per
    contaminated corpus item: ``(vec_id, nearest_eval_id, max_eval_sim)``
    with ties on similarity broken toward the lower eval id.

    Scale shape: the eval set is the small side by construction
    (benchmarks are thousands of items, the corpus is the 100 TB side) —
    broadcast it and the scan is a single map-side pass over the corpus
    with a per-row bounded argmax; no shuffle at all until the final
    (tiny) contaminated set. Cosines are 6dp-rounded BEFORE the threshold
    and argmax so the decision is reproducible cross-engine (same
    contract as the knn family)."""
    from .similarity import _dvec, cosine

    e = eval_set.select(F.col("vec_id").alias("eval_id"), _dvec(F.col("embedding")).alias("qv"))
    c = corpus.select("vec_id", _dvec(F.col("embedding")).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(e))
        .select(
            "vec_id",
            "eval_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= F.lit(threshold))
    )
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct(F.col("sim"), (-F.col("eval_id")).alias("neg_eval")), F.struct(F.col("sim"), (-F.col("eval_id")).alias("neg_eval"))
        ).alias("top")
    )
    return best.select(
        "vec_id",
        (-F.col("top.neg_eval")).cast("long").alias("nearest_eval_id"),
        F.col("top.sim").alias("max_eval_sim"),
    )
