"""Web front-end of the corpus pipeline (plans/corpus_pipeline.py
web_ingest_batch): WARC streams → pages → canonical-URL dedup → extracted
documents → the full mart chain, idempotence, and upsert-on-recrawl."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.plans.corpus_pipeline import web_ingest_batch
from pipeline_etl_ecommerce_spark.sources.warc import synthesize_warc_html_streams


@pytest.fixture()
def warc_media(spark):
    ids = spark.range(0, 24).select(F.col("id").alias("media_id"))
    return synthesize_warc_html_streams(ids)


def test_end_to_end_marts_converge(spark, tmp_path, warc_media):
    marts = str(tmp_path / "marts")
    stats = web_ingest_batch(spark, warc_media, marts)
    # every (media, record) URI is distinct in the synth -> one doc per page
    n_pages = sum(2 + mid % 3 for mid in range(24))
    assert stats["web_pages"] == n_pages
    assert stats["corpus"] == n_pages
    assert stats["curated"] >= 0  # gates may drop short pages; must not fail
    # provenance mart joins back to the crawl
    wp = spark.read.parquet(f"{marts}/web_pages")
    assert wp.count() == n_pages
    assert wp.filter(F.col("canonical_url").contains("utm")).count() == 0  # canonicalized
    assert wp.filter(F.col("canonical_url").startswith("http://example.com/")).count() == n_pages


def test_idempotent_reingest(spark, tmp_path, warc_media):
    marts = str(tmp_path / "marts")
    s1 = web_ingest_batch(spark, warc_media, marts)
    s2 = web_ingest_batch(spark, warc_media, marts)
    # re-crawling the same pages upserts: no mart grows
    assert s2["web_pages"] == s1["web_pages"]
    assert s2["corpus"] == s1["corpus"]


def test_recrawl_updates_content_not_rows(spark, tmp_path):
    ids = spark.range(0, 6).select(F.col("id").alias("media_id"))
    marts = str(tmp_path / "marts")
    from pipeline_etl_ecommerce_spark.sources.sinks import read_mart

    web_ingest_batch(spark, synthesize_warc_html_streams(ids), marts)
    before = {
        r["doc_id"]: r["text"]
        for r in read_mart(spark, f"{marts}/corpus").select("doc_id", "text").collect()
    }
    # same URLs again -> same doc_ids, same row count (url-keyed upsert)
    web_ingest_batch(spark, synthesize_warc_html_streams(ids), marts)
    after = read_mart(spark, f"{marts}/corpus")
    assert after.count() == len(before)
    assert {r["doc_id"] for r in after.select("doc_id").collect()} == set(before)
