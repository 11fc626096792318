"""Optimization-round measurement harness (guide §1): isolate queries with
the noop sink, time min-of-N, and capture .explain("formatted") to
plans/$SPARK_GRAFT_PLANS_TAG (default r11)/<query>_<tag>.txt so plan claims are checkable offline.

Usage:
  python scripts/opt_measure.py --explain --tag before q1 q2 ...
  python scripts/opt_measure.py --time --reps 3 q1 q2 ...
  python scripts/opt_measure.py --time --reps 3 --all-over 1.0   # every query
                                  whose last bench_detail time exceeds 1.0s

Session, warm-up and timed reps are bench.py's, from scripts/measure.py.
Explains are captured WITHOUT executing, so --explain covers rows registered
kind="lazy" only: an executed or streaming row runs its harness on call and
returns a materialized result, whose plan says nothing about the query.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import time
from contextlib import redirect_stdout

import measure  # also puts the repo root on sys.path
from pipeline_etl_ecommerce_spark import testdata_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_DIR = os.path.join(REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_TAG", "r11"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--all-over", type=float, default=None)
    ap.add_argument("--no-warm", action="store_true",
                    help="skip the warm-up (explain-only shortcut for rows without marts)")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    qs = testdata_queries.queries()
    names = list(args.queries)
    if args.all_over is not None:
        detail = json.load(open(os.path.join(REPO, "bench_detail.json")))
        names += [q for q, s in detail["queries"].items() if s >= args.all_over and q not in names]
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, _ = measure.session("opt-measure")
    os.makedirs(PLANS_DIR, exist_ok=True)

    t0 = time.perf_counter()
    if not args.no_warm:
        measure.warm(spark, sf_dir)
        print(f"[warm] side tables in {time.perf_counter() - t0:.1f}s", flush=True)

    results: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        if args.explain:
            kind = testdata_queries.KIND[name]
            if kind != "lazy":
                print(f"[explain] {name}: SKIP ({kind} row — harness, not plan)")
            else:
                df = fn(spark, sf_dir)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                path = os.path.join(PLANS_DIR, f"{name}_{args.tag}.txt")
                with open(path, "w") as fh:
                    fh.write(buf.getvalue())
                txt = buf.getvalue()
                n_ex = txt.count("Exchange")
                print(f"[explain] {name}: {path} (Exchange x{n_ex})")
        if args.time:
            samples = measure.time_row(spark, sf_dir, name, args.reps)
            results[name] = {
                "min": round(min(samples), 3),
                "max": round(max(samples), 3),
                "samples": [round(s, 3) for s in samples],
            }
            print(f"[time] {name}: min={min(samples):.3f}s max={max(samples):.3f}s", flush=True)

    if results:
        print(json.dumps({"timings": {k: v["min"] for k, v in results.items()}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
