#!/usr/bin/env python3
"""Mechanical quiet-window acceptance check (OPTIMIZATION_r17.md rule).

Takes any number of BENCH_RAW snapshots (one per bench.py run of the same
session/day) and reports, per snapshot:

  rule 1: no per-query timed spread (max/min) > 2.0
  rule 2: no query median > 3x its best median across ALL given snapshots
  rule 3: every query's canary_before present and healthy
          (single_sec <= 0.5, nproc_wall_sec <= 2.0)

and which snapshot is the LAST qualifying one (the one the rule commits —
never the lowest total, so selection cannot cherry-pick by outcome).

Usage: python scripts/r17_quiet_check.py RAW1.json RAW2.json ...
"""

from __future__ import annotations

import json
import sys


def evaluate(paths: list[str]) -> int | None:
    docs = []
    for p in paths:
        with open(p) as f:
            docs.append(json.load(f))
    best: dict[str, float] = {}
    for d in docs:
        for q, t in d["result"]["queries"].items():
            best[q] = min(best.get(q, float("inf")), t)
    last_ok = None
    for i, (p, d) in enumerate(zip(paths, docs)):
        viol = []
        for q, r in d["runs_raw"].items():
            c = r.get("canary_before")
            if (r.get("spread") or 0) > 2.0:
                viol.append(f"rule1 {q} spread={r['spread']}")
            # a missing canary is unproven health, not a pass
            if not c:
                viol.append(f"rule3 {q} canary missing")
            elif c.get("single_sec", 0) > 0.5 or c.get("nproc_wall_sec", 0) > 2.0:
                viol.append(f"rule3 {q} canary={c}")
        for q, t in d["result"]["queries"].items():
            if t > 3.0 * best[q]:
                viol.append(f"rule2 {q} {t} > 3x best {best[q]}")
        ok = not viol
        print(f"{p}: total={d['result']['value']} "
              f"{'QUALIFIES' if ok else 'REJECTED: ' + '; '.join(viol[:4])}")
        if ok:
            last_ok = i
    if last_ok is None:
        print("no snapshot qualifies — keep re-running on a quieter window")
        return None
    print(f"COMMIT (last qualifying): {paths[last_ok]}")
    return last_ok


if __name__ == "__main__":
    evaluate(sys.argv[1:])
