"""Pin the CURRENT bench_detail.json as the committed per-query baseline
(BENCH_BASELINE.json) that bench.py's baseline gate compares every future
run against (r7 verdict item 3).

Refuses to pin a run that isn't clean: load gate must have PASSED,
reps >= 3 (a 1-rep or loaded-host run would bake noise into the floor
every later run is judged by), and the run's baseline gate must not have
failed (an understood regression is adjudicated in bench.py's
BASELINE_ADJUDICATIONS, which keeps the gate ok; pinning over it would
erase the evidence instead).

Usage: python scripts/pin_bench_baseline.py ["note for the record"]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "bench_detail.json")) as fh:
        detail = json.load(fh)
    gate = detail.get("load_gate", {})
    if gate.get("status") != "passed":
        print(f"refusing to pin: load gate {gate}")
        return 1
    if detail.get("reps", 1) < 3:
        print(f"refusing to pin: reps={detail.get('reps')} < 3")
        return 1
    status = detail.get("baseline_gate", {}).get("status", "")
    if status.startswith("failed"):
        print(f"refusing to pin: baseline gate {status}")
        return 1
    baseline = {
        "pinned_from": sys.argv[1] if len(sys.argv) > 1 else "clean run",
        "sf": detail.get("sf"),
        "cpus": detail.get("cpus"),
        "reps": detail.get("reps"),
        "loadavg_start": detail.get("loadavg_start"),
        "total": detail.get("total"),
        "queries": detail["queries"],
        # per-mart build pins (r10 verdict item 4): the untimed
        # side_table_build phase is gated like queries (2x with a 5 s
        # floor — spans are measured under wave concurrency) so it cannot
        # silently absorb timed work or drift between rounds.
        "marts": detail.get("side_table_build", {}).get("marts", {}),
        "side_table_build_wall": detail.get("side_table_build", {}).get("total"),
        # Adjudication record carried with the baseline so the next reader
        # of a bench diff sees the prior round's verdicts in-artifact.
        "notes": {
            "order_clv_deciles": (
                "r9 deliberately replaced the single-reducer global ntile "
                "window with the distributed range-partition + offset plan "
                "(operators/ranking.py distributed_ntile) — pin moved "
                "0.311 -> ~0.8 s locally BY DESIGN (the scale-safe plan "
                "pays two tiny extra exchanges; the unbounded global sort "
                "is gone). The r9 gate failed all round because this "
                "understood delta was never adjudicated; this pin prices "
                "it in (r9 verdict item 2)."
            ),
            "bitext_margin_pairs": (
                "r10 replaced the exact cross-join miner (18.6-25 s at "
                "sf0.1, the catalog's one quadratic plan) with the "
                "IVF-indexed form (~3 s) — this pin records the new plan."
            ),
            "span_family": (
                "r10 moved the span family's shared gram construction "
                "(gram stream -> df cut -> gram equi-join) into the "
                "span_gram_matches mart, billed to side_table_build like "
                "the minhash/image signature marts: exact_span_pairs_docs "
                "5.8 -> ~1.2 s and span_deduped_documents 7.0 -> ~1.4 s "
                "query wall at sf0.1; this pin records the consumer-only "
                "walls."
            ),
            "executed_streaming_family": (
                "walls of rows that start a stream are bimodal across clean "
                "runs (fixed stream start/stop + state-store harness cost, "
                "not data compute) — r8/r9 both burned adjudication passes "
                "on 2-3x swings with bit-identical plans. bench.py gates "
                "the rows registered kind=\"streaming\" at 3x with a 2 s "
                "floor (r9 verdict item 3)."
            ),
            "r10_media_flags": (
                "bmp_decode_stats / png_decode_stats / png_rgba_decode_stats "
                "flagged >2x vs the r8-era pins in the r10 close run "
                "(1.31/1.75/1.77 s vs 0.49/0.79/0.76) but re-measured "
                "isolated on an idle host at 0.69/1.05/0.93 min-of-3 — "
                "in-bench neighbors' load, not a plan change (plans "
                "unchanged in plan_audit). Values re-pinned from the close "
                "run; the gate's 2x+0.5s floor absorbs the context delta."
            ),
            "r9_load_flags": (
                "bloom_filter_brand_revenue / cohort_retention_weekly / "
                "inverted_index_postings flagged >2x in the r9 driver run "
                "at loadavg 10.3 but did not reproduce clean (r9 judge's "
                "own run: 0.62/0.66/0.44 s vs pins 0.49/0.40/0.39) — load "
                "noise, no action; values re-pinned here from a clean run."
            ),
        },
    }
    out = os.path.join(ROOT, "BENCH_BASELINE.json")
    with open(out, "w") as fh:
        json.dump(baseline, fh, indent=1, sort_keys=True)
    print(
        f"pinned {len(baseline['queries'])} queries "
        f"(total {baseline['total']} s, loadavg {baseline['loadavg_start']}) -> {out}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
