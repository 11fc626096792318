"""Self time over nested spans, and the event-log fold on a captured log.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

from perfbench.trace import Span, Tracer, fold_event_log, self_times, spark_totals

HERE = os.path.dirname(os.path.abspath(__file__))


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: the union is 1..6
        _span(3, 1, 1.5, 2.5),  # a grandchild is charged to its own parent
        _span(4, 0, 9.0, 12.0),  # runs past the parent: clipped at 10
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got[1] == pytest.approx(3.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(1.0)


def test_self_times_of_a_recorded_tree_add_up_to_the_root():
    tracer = Tracer()
    root = tracer.open("day")
    for name in ("read", "build", "write"):
        inner = tracer.open(name)
        tracer.call("leaf", sum, range(1000))
        tracer.close(inner)
    tracer.close(root)
    assert [s.parent for s in tracer.spans] == [None, 0, 1, 0, 3, 0, 5]
    assert sum(self_times(tracer.spans).values()) == pytest.approx(root.duration)


def test_spans_must_close_in_order():
    tracer = Tracer()
    outer = tracer.open("outer")
    tracer.open("inner")
    with pytest.raises(RuntimeError):
        tracer.close(outer)


def test_fold_groups_task_metrics_by_job_group():
    """The sample is a trimmed event log of two job groups on local[2]:
    ``sum(id)`` over a 2-partition range (its second job re-runs a stage
    that is skipped), then a ``groupBy().count()`` on 3 partitions."""
    with open(os.path.join(HERE, "eventlog_sample.jsonl"), encoding="utf-8") as fh:
        folded = fold_event_log(fh)
    assert set(folded) == {"perfbench-0", "perfbench-1"}
    a, b = folded["perfbench-0"], folded["perfbench-1"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (2, 2, 3)  # the skipped stage ran no task
    assert (b["jobs"], b["stages"], b["tasks"]) == (1, 1, 3)
    assert a["executor_run_s"] == pytest.approx(0.345)
    assert b["executor_run_s"] == pytest.approx(0.787)
    assert a["executor_cpu_s"] == pytest.approx(0.188829071)
    assert (a["gc_s"], b["gc_s"]) == (pytest.approx(0.031), pytest.approx(0.044))
    assert a["shuffle_write_mb"] == a["shuffle_read_mb"] == pytest.approx(118 / (1 << 20))
    assert b["shuffle_read_mb"] == b["output_mb"] == b["spill_mb"] == 0
    both = spark_totals(folded, [Span(0, "x", None, 0.0), Span(1, "y", None, 0.0)])
    assert both["tasks"] == 6 and both["jobs"] == 3
