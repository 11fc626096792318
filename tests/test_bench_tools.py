"""The bench tools' gates, on hand-written bench records: ``bench.py``'s
baseline gate, ``pin_bench_baseline.py``'s refusals, ``bench_compare.py``'s
and ``scale_stress.py``'s exit codes, ``selfcheck.py``'s row count and
``opt_measure.py``'s refusal of an unknown row. No Spark session is
started."""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import bench  # noqa: E402
import bench_compare  # noqa: E402
import opt_measure  # noqa: E402
import pin_bench_baseline  # noqa: E402
import scale_stress  # noqa: E402
import selfcheck  # noqa: E402

LAZY, STREAMING = "pricing_summary", "streaming_stateful_totals"


@pytest.fixture
def pin(tmp_path, monkeypatch):
    """Write a BENCH_BASELINE.json pin and point bench.py's gate at it."""
    path = tmp_path / "BENCH_BASELINE.json"
    monkeypatch.setattr(bench, "_BASELINE_PATH", str(path))

    def write(queries, cpus=4, sf=0.1):
        path.write_text(json.dumps({"cpus": cpus, "sf": sf, "queries": queries}))

    return write


def test_gate_skips_a_pin_from_another_core_count(pin):
    pin({LAZY: 1.0}, cpus=32)
    gate = bench._baseline_gate({LAZY: 10.0}, None, cpus=4, sf=0.1)
    assert gate["status"] == "no pin for cpus=4 sf=0.1"
    assert "regressions" not in gate and "unpinned" not in gate


def test_gate_skips_a_pin_from_another_sf(pin):
    pin({LAZY: 1.0}, sf=0.1)
    assert bench._baseline_gate({LAZY: 10.0}, None, cpus=4, sf=0.01)["status"] == (
        "no pin for cpus=4 sf=0.01"
    )


@pytest.mark.parametrize(
    "row, pinned, now, fails",
    [
        (LAZY, 0.8, 2.0, True),  # 2.5x, +1.2 s: past 2x and the 0.5 s floor
        (STREAMING, 0.8, 2.0, False),  # 2.5x: under the streaming 3x
        (STREAMING, 1.2, 4.2, True),  # 3.5x, +3 s: past 3x and the 2 s floor
    ],
)
def test_gate_threshold_follows_declared_kind(pin, row, pinned, now, fails):
    pin({row: pinned})
    gate = bench._baseline_gate({row: now}, None, cpus=4, sf=0.1)
    assert gate["status"].startswith("failed") is fails
    assert (row in gate["regressions"]) is fails


def _write_detail(root, gate_status):
    detail = {
        "cpus": 4,
        "sf": 0.1,
        "reps": 3,
        "total": 1.0,
        "loadavg_start": 0.1,
        "load_gate": {"status": "passed"},
        "baseline_gate": {"status": gate_status},
        "queries": {LAZY: 1.0},
    }
    (root / "bench_detail.json").write_text(json.dumps(detail))


def test_pin_refuses_a_failed_gate(tmp_path, monkeypatch):
    monkeypatch.setattr(pin_bench_baseline, "ROOT", str(tmp_path))
    _write_detail(tmp_path, "failed: 1 unadjudicated >threshold (pricing_summary)")
    baseline = tmp_path / "BENCH_BASELINE.json"
    baseline.write_bytes(b'{"queries": {"pricing_summary": 0.4}}\n')
    monkeypatch.setattr(sys, "argv", ["pin_bench_baseline.py"])
    assert pin_bench_baseline.main() == 1
    assert baseline.read_bytes() == b'{"queries": {"pricing_summary": 0.4}}\n'


def test_pin_accepts_a_clean_run(tmp_path, monkeypatch):
    monkeypatch.setattr(pin_bench_baseline, "ROOT", str(tmp_path))
    _write_detail(tmp_path, "ok")
    monkeypatch.setattr(sys, "argv", ["pin_bench_baseline.py"])
    assert pin_bench_baseline.main() == 0
    pinned = json.loads((tmp_path / "BENCH_BASELINE.json").read_text())
    assert (pinned["cpus"], pinned["sf"], pinned["queries"]) == (4, 0.1, {LAZY: 1.0})


def _compare(tmp_path, monkeypatch, old, new):
    paths = []
    for label, doc in (("old", old), ("new", new)):
        p = tmp_path / f"{label}.json"
        p.write_text(json.dumps(doc))
        paths.append(str(p))
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", *paths])
    return bench_compare.main()


def _run(cpus=4, **queries):
    return {"cpus": cpus, "sf": 0.1, "queries": {"pricing_summary": 1.0, "top3_parts": 0.2, **queries}}


def test_compare_identical_runs_pass(tmp_path, monkeypatch):
    assert _compare(tmp_path, monkeypatch, _run(), _run()) == 0


def test_compare_flags_one_doubled_row(tmp_path, monkeypatch):
    assert _compare(tmp_path, monkeypatch, _run(), _run(pricing_summary=2.0)) == 1


def test_compare_refuses_another_core_count(tmp_path, monkeypatch, capsys):
    assert _compare(tmp_path, monkeypatch, _run(cpus=32), _run()) == 2
    assert "refusing to compare" in capsys.readouterr().out


def test_stress_exit_fails_a_section_whose_measurement_raised():
    passed, failed = {"gate": {"passed": True}}, {"gate": {"passed": False}}
    assert scale_stress.gates_passed(passed, passed, passed)
    assert not scale_stress.gates_passed(passed, failed, passed)
    # the section raised before it set its gate: the run is not clean
    assert not scale_stress.gates_passed(passed, {"error": "boom"}, passed)


class _Smoke:
    columns = ["x"]

    def count(self):
        return 1


def _no_session(spark, sf_dir):
    raise RuntimeError("no session in this test")


def _selfcheck(monkeypatch, tmp_path, *names):
    """``selfcheck.main()`` over a two-row catalog whose rows fail at once,
    with no Spark session."""
    monkeypatch.setattr(selfcheck, "get_spark", lambda *a, **k: None)
    monkeypatch.setattr(selfcheck.entrymod, "entry", lambda spark: _Smoke())
    monkeypatch.setattr(selfcheck.entrymod, "queries", lambda: {"a": _no_session, "b": _no_session})
    monkeypatch.setattr(sys, "argv", ["selfcheck.py", str(tmp_path), *names])
    return selfcheck.main()


def test_selfcheck_counts_only_the_rows_it_ran(tmp_path, monkeypatch, capsys):
    assert _selfcheck(monkeypatch, tmp_path, "a") == 1
    out = capsys.readouterr().out
    assert "[FAIL] a:" in out and "[FAIL] b:" not in out
    assert "0/1 queries match" in out


def test_selfcheck_refuses_an_unknown_row_name(tmp_path, monkeypatch, capsys):
    assert _selfcheck(monkeypatch, tmp_path, "a", "no_such_row") == 2
    out = capsys.readouterr().out
    assert "unknown queries: ['no_such_row']" in out and "[smoke]" not in out


def _session_started(*args, **kwargs):
    raise RuntimeError("a Spark session started")


@pytest.mark.parametrize("args, unknown", [
    (["--time", "no_such_row"], "no_such_row"),
    (["--time", "--all-over", "1.0"], "gone_row"),
])
def test_opt_measure_refuses_an_unknown_row_before_a_session(tmp_path, monkeypatch, capsys, args, unknown):
    """An unknown name, typed or taken from bench_detail.json by --all-over,
    exits 2 before a session starts."""
    (tmp_path / "bench_detail.json").write_text(json.dumps({"queries": {"gone_row": 5.0, LAZY: 0.1}}))
    monkeypatch.setattr(opt_measure, "REPO", str(tmp_path))
    monkeypatch.setattr(opt_measure.measure, "session", _session_started)
    monkeypatch.setattr(sys, "argv", ["opt_measure.py", *args])
    assert opt_measure.main() == 2
    assert f"unknown queries: ['{unknown}']" in capsys.readouterr().out
