"""Round-over-round bench comparison: diff two bench_detail.json files
per query (NEVER totals — the catalog grows between rounds). Shared
side-table marts are billed to setup ("side_table_build"), so every row is
judged on its own. Only runs taken at the same core count and SF compare.

Usage: python scripts/bench_compare.py OLD.json NEW.json [--threshold 1.5]
Exit 1 when any query regressed past threshold x (+0.5 s floor); exit 2
when the two runs differ in cpus or sf.
"""

from __future__ import annotations

import argparse
import json

from measure import same_setup


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    args = ap.parse_args()

    old_doc = json.load(open(args.old))
    new_doc = json.load(open(args.new))
    if not same_setup(old_doc, new_doc):
        print(f"refusing to compare: OLD cpus={old_doc.get('cpus')} sf={old_doc.get('sf')}, "
              f"NEW cpus={new_doc.get('cpus')} sf={new_doc.get('sf')}")
        return 2
    old, new = old_doc["queries"], new_doc["queries"]

    regressions: list[str] = []
    print(f"{len(new)} queries in NEW ({len(set(new) - set(old))} added, "
          f"{len(set(old) - set(new))} removed)")
    o = (old_doc.get("side_table_build") or {}).get("total")
    n = (new_doc.get("side_table_build") or {}).get("total")
    if o is not None or n is not None:
        print(f"  side_table_build: {o if o is not None else 'n/a'} -> "
              f"{n if n is not None else 'n/a'}s (setup, billed separately)")
    for q in sorted(set(old) & set(new)):
        if new[q] > args.threshold * old[q] and new[q] - old[q] > 0.5:
            regressions.append(f"{q}: {old[q]:.2f}s -> {new[q]:.2f}s")

    for r in regressions:
        print(f"  [REGRESSION] {r}")
    if not regressions:
        print("  no per-query regressions past "
              f"{args.threshold}x (+0.5s absolute floor)")
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
