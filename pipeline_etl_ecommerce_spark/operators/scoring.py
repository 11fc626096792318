"""Model-based document scoring: the batch-inference plumbing a
classifier-filtered corpus needs (FineWeb-Edu-style quality models,
toxicity filters, perplexity gates) as Arrow-batched ``mapInPandas``.

The model kernel is PLUGGABLE: a real deployment passes a callable that
loads its ONNX/torch model once per executor (lazy module-global — the
callable is pickled once and the heavy weights load on first batch) and
scores a whole Arrow batch vectorized. This container has no ML runtime,
so the default kernel is ``md5_stub_model`` — a deterministic pseudo-logit
from the text's md5 — which exercises the identical batch path AND is
replayable in the DuckDB oracle (the stub emits exact dyadic rationals
x / 16^6, so both engines hold bit-identical doubles with no rounding
step at all).

Scale notes (same contract as operators/multimodal.py): scoring is the
FIRST map stage after the scan; only (id, score, bucket) survive it, so
the heavy text column never rides a shuffle. Batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``; model weights amortize
across every batch a task processes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCORE_DDL = "doc_id bigint, model_score double, score_bucket string"


def md5_stub_model(texts: pd.Series) -> pd.Series:
    """Deterministic stand-in 'model': first 6 md5 hexits as a uniform
    pseudo-probability in [0, 1). Exact dyadic rational (x / 2^24), so any
    engine reproduces the double bit-for-bit. Replace with a real
    batch-vectorized classifier (ONNX session, torch model) in production."""
    return texts.map(
        lambda t: int(hashlib.md5((t or "").encode("utf-8")).hexdigest()[:6], 16) / float(16**6)
    )


def score_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    model: Callable[[pd.Series], pd.Series] = md5_stub_model,
) -> DataFrame:
    """Score every document with a batch model and bucket the scores
    (``high`` from 0.67 / ``mid`` from 0.33 / ``low`` — the triage a
    model-filtered corpus keeps / reviews / drops). Output: (doc_id,
    model_score, score_bucket).

    The projection inside the kernel is the important part at scale: the
    text enters the Arrow batch, the score leaves it — downstream stages
    never see the payload again."""

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a real kernel lazy-loads its weights here, once per task
        for pdf in batches:
            scores = model(pdf[text_col])
            bucket = scores.map(lambda s: "high" if s >= 0.67 else ("mid" if s >= 0.33 else "low"))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "model_score": scores, "score_bucket": bucket}
            )

    return df.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        _score, schema=SCORE_DDL
    )


