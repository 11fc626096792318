"""REST paginated sources (SURVEY.md §2.1 S4-S6) as a landing-zone connector.

The reference ingests from two REST APIs with three pagination dialects:

- S4 offset/limit: merge pages until ``offset >= paging.total``
  (reference ``tarefa_coletar_financas.php:17-41``);
- S5 scroll: do/while on the returned ``scroll_id`` until a page comes back
  empty (reference ``tarefa_sincronizar_anuncios_meli.php:14-37``);
- S6 page-number: ``pagina=N`` until the first empty page (reference
  ``tarefa_sincronizar_catalogo_tiny.php:16-33`` and 3 more sites).

Spark-first shape: pagination is a DRIVER-side loop (each scroll token
depends on the previous response; page N+1 existence on page N's content),
but parsing/typing/cleaning is not — so the connector's only job is to LAND
pages as JSON-lines files in a drop directory, and the engine reads the
directory with an explicit schema (splittable files → parallel parse,
corrupt-record quarantine via the S8 path, replayable at-least-once because
re-landing a page and re-reading is idempotent downstream of the keyed
upsert sinks). This is exactly the boundary the reference's cron jobs have
— fetch loop in PHP, set-based SQL after — re-expressed as
fetch loop on the driver, distributed DataFrame after.

Scale notes: an API that serves ~pages/second is the bottleneck, not Spark;
the one real lever is concurrent page fetches, which only the OFFSET
dialect permits (after page 1 reveals ``total``, every remaining offset is
an independent request — ``fetch_offset_limit`` takes ``max_workers``).
Scroll and page-number are sequential by construction. Fetched pages should
land in batches of files sized ~100 MB for the downstream scan; the drop
directory doubles as the streaming source for the T1/T5 queue pipelines
(``streaming.runner.read_json_stream`` over the same files).

Auth (UD4 OAuth refresh) stays out of the engine by SURVEY's scoping: pass
a ``fetch`` callable that already carries its credentials.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def fetch_offset_limit(
    fetch: Callable[[int, int], dict],
    *,
    limit: int = 50,
    max_workers: int = 1,
) -> Iterator[list[dict]]:
    """S4: ``fetch(offset, limit) -> {"results": [...], "paging": {"total": N}}``.
    Yields one page (list of row dicts) at a time until ``offset >= total``,
    the reference's merge-pages loop. With ``max_workers > 1`` the remaining
    offsets after page 1 are fetched concurrently (they are independent once
    ``total`` is known) but still YIELDED in offset order, so landing stays
    deterministic."""
    if limit <= 0:
        raise ValueError("limit must be positive")
    first = fetch(0, limit)
    total = int(first.get("paging", {}).get("total", len(first.get("results", []))))
    yield list(first.get("results", []))
    offsets = list(range(limit, total, limit))
    if not offsets:
        return
    if max_workers <= 1:
        for off in offsets:
            yield list(fetch(off, limit).get("results", []))
        return
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        for page in pool.map(lambda off: fetch(off, limit), offsets):
            yield list(page.get("results", []))


def fetch_scroll(fetch: Callable[[str | None], dict]) -> Iterator[list[dict]]:
    """S5: ``fetch(scroll_id) -> {"results": [...], "scroll_id": ...}``;
    first call with ``None`` opens the scan. Terminates on the first empty
    page OR a missing scroll_id (both appear in the wild), with a hard cap
    against servers that echo a live scroll_id forever."""
    scroll_id: str | None = None
    for _ in range(1_000_000):  # runaway-server backstop
        page = fetch(scroll_id)
        results = list(page.get("results", []))
        if not results:
            return
        yield results
        scroll_id = page.get("scroll_id")
        if scroll_id is None:
            return
    raise RuntimeError("scroll pagination exceeded 1e6 pages; server is looping")


def fetch_page_number(fetch: Callable[[int], list[dict]]) -> Iterator[list[dict]]:
    """S6: ``fetch(page) -> [rows]`` from page 1 until the first empty
    page — the Tiny-API dialect (four reference jobs share it)."""
    page = 1
    for _ in range(1_000_000):
        rows = fetch(page)
        if not rows:
            return
        yield list(rows)
        page += 1
    raise RuntimeError("page-number pagination exceeded 1e6 pages; server is looping")


def land_pages(pages: Iterator[list[dict]], drop_dir: str) -> list[str]:
    """Write each page as one JSON-lines file in ``drop_dir`` (zero-padded
    ``page_<i>.json`` names keep file order == fetch order for audit). Returns the
    landed file paths. The landing zone is the connector/engine boundary:
    everything after it is distributed."""
    os.makedirs(drop_dir, exist_ok=True)
    paths: list[str] = []
    for i, page in enumerate(pages):
        path = os.path.join(drop_dir, f"page_{i:06d}.json")
        with open(path, "w") as fh:
            for row in page:
                fh.write(json.dumps(row) + "\n")
        paths.append(path)
    return paths


def ingest_pages(
    spark: SparkSession,
    pages: Iterator[list[dict]],
    schema: StructType,
    drop_dir: str,
) -> DataFrame:
    """Land pages then parse them distributed with an explicit schema via
    ``readers.read_json_payloads`` (never inferSchema on an API payload: one
    odd page would flip column types). Reads EXACTLY the files this call
    landed — a reused drop directory's leftover pages from a previous,
    longer run are not silently unioned in. An empty source yields an empty
    DataFrame with the right schema. For corrupt-record quarantine, read
    the landed paths through the S8 PERMISSIVE/columnNameOfCorruptRecord
    path instead (see the json_quarantine catalog query)."""
    from .readers import read_json_payloads

    paths = land_pages(pages, drop_dir)
    if not paths:
        return spark.createDataFrame([], schema)
    return read_json_payloads(spark, paths, schema)
