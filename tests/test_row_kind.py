"""Each catalog row's declared kind (``register(..., kind=)``) matches what
calling it actually does: a row that starts a stream is ``streaming``, one
that writes scratch files or pins session confs before returning is
``executed``, and every other row returns a lazy plan."""

from __future__ import annotations

import os
import sys
import tempfile
from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql.streaming import DataStreamWriter

from pipeline_etl_ecommerce_spark import testdata_queries as tq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import bench_sf1  # noqa: E402
from scale_stress import SF_SRC  # noqa: E402

SF_DIR = os.path.join(os.path.dirname(SF_SRC), "sf0.001")


def test_register_rejects_unknown_kind():
    with pytest.raises(ValueError, match="kind"):
        tq.register("never_registered_row", kind="eager")
    assert "never_registered_row" not in tq.QUERIES


def test_bench_sf1_panel_is_lazy():
    assert {q: tq.KIND[q] for q in bench_sf1.PANEL if tq.KIND[q] != "lazy"} == {}


def test_declared_kind_matches_observed(spark, monkeypatch):
    if not os.path.isdir(SF_DIR):
        pytest.skip("sf0.001 testdata not present")
    # marts first, so their builds are not attributed to the row that
    # happens to consume them first
    tq.warm_side_tables(spark, SF_DIR)

    seen: set[str] = set()

    def spy(kind, fn):
        def wrapped(*args, **kwargs):
            seen.add(kind)
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(DataStreamWriter, "start", spy("streaming", DataStreamWriter.start))
    monkeypatch.setattr(DataStreamWriter, "toTable", spy("streaming", DataStreamWriter.toTable))
    monkeypatch.setattr(tempfile, "mkdtemp", spy("executed", tempfile.mkdtemp))
    monkeypatch.setattr(tq, "_scratch_dir", spy("executed", tq._scratch_dir))
    for name in ("_conf_pin", "_session_tz"):
        monkeypatch.setattr(tq, name, contextmanager(spy("executed", getattr(tq, name).__wrapped__)))

    observed: dict[str, str] = {}
    for name, fn in tq.queries().items():
        seen.clear()
        fn(spark, SF_DIR)
        observed[name] = next((k for k in ("streaming", "executed") if k in seen), "lazy")

    mismatched = {q: (tq.KIND[q], observed[q]) for q in observed if observed[q] != tq.KIND[q]}
    assert mismatched == {}, "declared vs observed kind"
    assert Counter(tq.KIND.values()) == {"lazy": 244, "executed": 19, "streaming": 10}
