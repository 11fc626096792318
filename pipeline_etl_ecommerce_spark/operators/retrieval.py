"""Lexical retrieval scoring over a document corpus: TF-IDF / BM25.

A training-data pipeline uses relevance scoring for topical filtering
("keep docs that look like math"), quality-weighted sampling, and retrieval
baselines. Both scorers here are pure DataFrame aggregations:

- one explode pass builds per-(doc, term) term frequencies;
- document frequency and the corpus-level constants (N, avgdl) are tiny
  aggregates broadcast back into the scoring join;
- the query's terms are plan literals, so scoring any corpus is one
  shuffle (the tf groupBy) + broadcast joins — no per-query scan of
  anything but the tf table.

Determinism: scores are rounded at 6dp after a fixed-shape expression, so
an external SQL oracle reproduces them bit-for-bit (same contract as the
similarity family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ranking import rank_per_group


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    tok = F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    return df.select(F.col(id_col).alias("doc_id"), tok.alias("term")).filter(F.col("term") != "")


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
) -> DataFrame:
    """BM25 relevance of every document against ``query_terms``.

    idf uses the standard Robertson-Sparck Jones form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` (always positive), tf
    saturation/length normalization the classic
    ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` with k1 = 1.2, b = 0.75.
    Docs matching no term are omitted (inner semantics — filter pipelines
    join back as needed). Output: (doc_id, n_terms_matched, score)."""
    toks = _tokens(df, text_col, id_col)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    # corpus constants: one tiny row, broadcast into the scoring join
    consts = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qt = [t.lower() for t in query_terms]
    tf = (
        toks.filter(F.col("term").isin(qt))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    k1, b = 1.2, 0.75
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(consts))
        .withColumn("term_score", idf * tf_part)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_matched"),
            F.round(F.sum("term_score"), 6).alias("score"),
        )
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, *, top_k: int = 3
) -> DataFrame:
    """Per-document top-k characteristic terms by tf-idf
    (``tf * ln(N / df)``), deterministic tie-break by term. The per-doc
    keyword extraction a corpus explorer or topical tagger runs."""
    toks = _tokens(df, text_col, id_col)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("double").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    n_docs = df.select(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    order = [F.col("tfidf").desc(), F.col("term")]
    ranked = rank_per_group(scored, "doc_id", order, rank_col="rnk", k=top_k)
    return ranked.select("doc_id", "term", "tfidf", "rnk")


def inverted_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_df: int = 2,
    max_postings: int = 20,
) -> DataFrame:
    """Inverted-index postings build: one row per term with its document
    frequency and a capped, sorted postings list (CSV string, so the same
    bytes come out of any engine). The index-construction job behind the
    BM25/TF-IDF scorers above — at corpus scale this IS the retrieval
    index build.

    Scale shape: per-doc distinct terms are built map-side
    (``array_distinct`` before the explode — no dedup shuffle), then ONE
    shuffle on term feeds the df-count window, the postings cap, and the
    final aggregation (shared partitioning, single Exchange). The cap is
    applied by rank BEFORE ``collect_list``, so per-term state is bounded
    even for stop-terms — an uncapped ``collect_set`` on a 100 TB corpus
    would OOM on exactly the most frequent terms.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda t: t != "",
                )
            )
        ).alias("term"),
    )
    return (
        rank_per_group(toks, "term", ["doc_id"], k=max_postings, size_col="df")
        .groupBy("term", "df")
        .agg(
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("postings")
        )
        .filter(F.col("df") >= min_df)
        .select("term", F.col("df").cast("long").alias("df"), "postings")
    )
