"""Every stream in ``pipeline_etl_ecommerce_spark/`` starts in
``streaming/runner.py``: ``run_batches`` (the one ``foreachBatch``) or
``run_parquet_append``, both checkpointed under ``Trigger.AvailableNow``.

A ``.writeStream``, ``foreachBatch(`` or ``availableNow=True`` anywhere else
in the package fails this test, so a new stream cannot hand-wire its own
start."""

from __future__ import annotations

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "pipeline_etl_ecommerce_spark"
RUNNER = "streaming/runner.py"
STREAM_STARTS = (".writeStream", "foreachBatch(", "availableNow=True")


def _stream_starts() -> dict[str, list[tuple[int, str]]]:
    found: dict[str, list[tuple[int, str]]] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if any(s in line for s in STREAM_STARTS):
                found.setdefault(rel, []).append((n, line.strip()))
    return found


def test_streams_start_only_in_runner():
    stray = {rel: hits for rel, hits in _stream_starts().items() if rel != RUNNER}
    assert not stray, f"stream started outside {RUNNER}; use run_batches / run_parquet_append: {stray}"


def test_runner_has_one_foreach_batch():
    hits = _stream_starts()[RUNNER]
    assert sum("foreachBatch(" in line for _, line in hits) == 1
    assert sum("availableNow=True" in line for _, line in hits) == 1
