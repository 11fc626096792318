"""Benchmark of the daily mart job and the BI read queries.

    python3 perfbench/run.py --workload daily_year --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run writes only under ``.bench_work/``
there: its work directory is removed at the end; with ``--trace 1`` the
spans are kept in ``.bench_work/traces/``. The last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the ``end_to_end`` metrics of ``BENCHMARK.json`` with tracing
off, its ``per_layer`` metrics with tracing on. The line before it is a
summary with the input sizes, the host and the checks that failed.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = ("pipeline_etl_ecommerce_spark/__init__.py", "scripts/run_daily.py", "scripts/selfcheck.py",
          "__spark_entry__.py", "BENCHMARK.json")


def storage_of(path: str) -> str:
    """File system type holding ``path`` (``tmpfs`` or a disk file system)."""
    best, kind = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, kind = parts[1], parts[2]
    return kind


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ENGINE if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "SPARK_GRAFT_CPUS": str(cores),
    })
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    from perfbench.workloads import HEAP, WORKLOADS, Context, RssSampler

    try:
        with RssSampler() as rss:
            out = WORKLOADS[args.workload](Context(args.seed, args.seconds, bool(args.trace), work, cores, STARTED, rss))
        if out.spans:
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed, "spans": out.spans}, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    undeclared = sorted(set(out.metrics) - set(declared))
    if undeclared:
        print(f"perfbench: measured but not declared: {undeclared}", file=sys.stderr)
    metrics = {}
    for name, unit in declared.items():
        value, got_unit = out.metrics.get(name, (0.0, unit))  # a layer this workload does not reach
        if got_unit != unit:
            raise SystemExit(f"perfbench: {name} measured in {got_unit}, declared in {unit}")
        metrics[name] = {"value": float(value), "unit": unit}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, **out.report,
        "failed_frac": out.failed / max(out.attempted, 1), "cores": cores,
        "loadavg": os.getloadavg(), "heap": HEAP, "rss_samples": rss.samples, "rss_sampler_s": rss.busy_s,
        "storage": storage_of(os.path.join(ROOT, ".bench_work")), "problems": out.problems[:20],
    }
    print(json.dumps({"summary": summary}, default=str))
    print(json.dumps({"correct": not out.problems, "attempted": out.attempted, "failed": out.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
