"""Training-corpus pipeline driver — the LLM-data counterpart of
run_daily.py: one invocation ingests a document batch and converges the
corpus / signature / pair / canonical / curated / sequence / pack / shard
marts (plans/corpus_pipeline.py).

Usage:
  python scripts/run_corpus.py --input DIR_OR_PARQUET --marts DIR
  python scripts/run_corpus.py --drops FILE.jsonl --marts DIR
  python scripts/run_corpus.py --warc DIR_OF_WARC_FILES --marts DIR

--input reads documents.parquet (a directory containing it, or the file
itself); --drops reads a JSON-lines delta batch (doc_id, text); --warc
reads raw .warc / .warc.gz files (binaryFile source) and runs the web
front-end (record walk -> canonical-URL dedup -> HTML text extraction)
before the mart chain. Either way the batch is treated as a delta:
re-running the same batch converges (idempotent keyed sinks throughout).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipeline_etl_ecommerce_spark.plans.corpus_pipeline import (  # noqa: E402
    ingest_batch,
    record_run,
    web_ingest_batch,
)
from pipeline_etl_ecommerce_spark.session import get_spark  # noqa: E402
from pipeline_etl_ecommerce_spark.sources.sinks import read_mart  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="documents.parquet (file or containing dir)")
    ap.add_argument("--drops", help="JSON-lines delta batch with doc_id/text")
    ap.add_argument("--warc", help="directory of .warc/.warc.gz files (web front-end)")
    ap.add_argument("--marts", required=True)
    ap.add_argument("--chunk-size", type=int, default=32)
    ap.add_argument("--pack-budget", type=int, default=64)
    ap.add_argument("--shards", type=int, default=4)
    # 0.35 is tuned to the SYNTHETIC testdata embeddings (compressed cosine
    # range); ingest_batch itself defaults to the operator's 0.9 — on real
    # embeddings a low tau over-deletes curated documents (ADVICE r3).
    ap.add_argument("--semantic-tau", type=float, default=0.35)
    # CCNet-style fluency gate: when set, a char-trigram LM trains on the
    # deterministic hash-split train slice of the batch (the same split the
    # catalog queries pin) and curated docs scoring above tau are dropped
    # into the ppl_rejected audit mart
    ap.add_argument("--ppl-tau", type=float, default=None)
    args = ap.parse_args()
    if not args.input and not args.drops and not args.warc:
        ap.error("one of --input / --drops / --warc is required")

    spark = get_spark("run-corpus")
    spark.sparkContext.setLogLevel("ERROR")

    if args.warc:
        from pyspark.sql import functions as F

        # binaryFile: one (path, content) row per crawl file — the same
        # opaque-bytes contract the synth media frames use; media_id is the
        # stable hash of the file path so re-runs upsert.
        media = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc*")
            .load(args.warc)
            .select(
                F.xxhash64("path").alias("media_id"),
                F.col("content").alias("payload"),
            )
        )
        os.makedirs(args.marts, exist_ok=True)
        t0 = time.perf_counter()
        stats = web_ingest_batch(
            spark,
            media,
            args.marts,
            chunk_size=args.chunk_size,
            pack_budget=args.pack_budget,
            n_shards=args.shards,
        )
        run_id = record_run(spark, args.marts, stats)
        print(json.dumps({"run_id": run_id, "seconds": round(time.perf_counter() - t0, 2), **stats}))
        return 0

    embeddings = eval_vectors = None
    if args.input:
        path = args.input
        if os.path.isdir(path) and os.path.exists(os.path.join(path, "documents.parquet")):
            # embeddings alongside documents enable the optional semantic-
            # decontamination stage: vec_id % 97 == 0 plays the held-out
            # eval set (same deterministic split the catalog query uses)
            emb_path = os.path.join(path, "embeddings.parquet")
            if os.path.exists(emb_path):
                emb = read_mart(spark, emb_path)
                embeddings = emb.filter("vec_id % 97 != 0")
                eval_vectors = emb.filter("vec_id % 97 = 0")
            path = os.path.join(path, "documents.parquet")
        docs = read_mart(spark, path)
    else:
        docs = spark.read.schema("doc_id BIGINT, text STRING").json(args.drops)

    lm_reference = None
    if args.ppl_tau is not None:
        from pipeline_etl_ecommerce_spark.operators.sampling import deterministic_split

        lm_reference = (
            deterministic_split(docs, "doc_id").filter("split = 'train'").select("text")
        )

    os.makedirs(args.marts, exist_ok=True)
    t0 = time.perf_counter()
    stats = ingest_batch(
        spark,
        docs,
        args.marts,
        chunk_size=args.chunk_size,
        pack_budget=args.pack_budget,
        n_shards=args.shards,
        embeddings=embeddings,
        eval_vectors=eval_vectors,
        semantic_tau=args.semantic_tau,
        ppl_tau=args.ppl_tau,
        lm_reference=lm_reference,
    )
    run_id = record_run(spark, args.marts, stats)
    print(json.dumps({"run_id": run_id, "seconds": round(time.perf_counter() - t0, 2), **stats}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
