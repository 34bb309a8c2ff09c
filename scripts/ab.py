#!/usr/bin/env python3
"""Interleaved A/B of session confs on registry queries, or a profile of
one query when no arm is given, with wall time AND work counters per arm.

Usage:
  python scripts/ab.py QUERY [QUERY ...] [--arm 'k=v[,k=v]'] ... [--reps N]

Each ``--arm`` is one set of session confs; ``UNSET`` unsets a key. With
no ``--arm`` there is one default arm (a profile). Per query, every arm
first collects its sorted rows, and the tool exits non-zero if they differ.
Then one warmup per arm and ``reps`` rounds, the arm order reversed every
round so that host contention lands on every arm alike. A run sees every
key its arm does not set at the key's entry value. Each timed run builds
the query (``run(...)``) and then runs its ``count()``, each in its own job
group, unique to the call, counted by ``perfbench.spans.job_counters``:
jobs, executed stages, executor CPU, shuffle and spill bytes, which host
contention cannot move, summed over both groups. The build is also
reported on its own, as a census of fixed cost: its seconds, its py4j
round trips (reference releases left out) and the Spark jobs it starts.
Every conf an arm set is restored or unset at exit. Cross-commit claims use
the perfbench A/B recipe, not this tool.

A streaming drain's micro-batch jobs run in the stream's own job group and
are not counted (``stream_window_counts`` reads only its sink count's 2 jobs).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, build_session, py4j_round_trips  # noqa: E402
from perfbench.spans import add_counters, drain_listener, job_counters  # noqa: E402
from seccosql_spark.registry import run  # noqa: E402

COUNTERS = ("jobs", "stages", "cpu_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")
BUILD = ("build_s", "build_round_trips", "build_jobs")


def label(arm: dict) -> str:
    return ",".join(f"{k}={v}" for k, v in arm.items()) or "default"


def _apply(spark, conf: dict) -> None:
    for k, v in conf.items():
        if v is None or v == "UNSET":
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def check_equal(name: str, rows: dict[str, list]) -> None:
    """Exit non-zero unless every arm returned the same sorted rows."""
    first, *rest = rows.items()
    for tag, got in rest:
        if got != first[1]:
            raise SystemExit(f"{name}: rows differ between [{first[0]}] "
                             f"({len(first[1])} rows) and [{tag}] ({len(got)} rows)")


def _timed(spark, name: str, sf_dir: str, conf: dict, group: str) -> tuple[float, float, int]:
    """(wall, build seconds, build round trips) of one build + ``count()``;
    the build's jobs land in ``group``-build, the count's in ``group``."""
    _apply(spark, conf)
    sc = spark.sparkContext
    try:
        sc.setJobGroup(f"{group}-build", name, interruptOnCancel=False)
        t0 = time.perf_counter()
        with py4j_round_trips() as trips:
            df = run(name, spark, sf_dir)
        built = time.perf_counter() - t0
        sc.setJobGroup(group, name, interruptOnCancel=False)
        df.count()
        return time.perf_counter() - t0, built, trips[0]
    finally:
        sc.setJobGroup(None, None)
        spark.catalog.clearCache()


def compare(spark, sf_dir: str, names, arms, reps: int) -> dict:
    """{query: {arm label: record}}; a record holds the timed walls, their
    median and quartiles, and the median of each of ``COUNTERS``."""
    saved = {k: spark.conf.get(k, None) for arm in arms for k in arm}
    conf = {label(a): {**saved, **a} for a in arms or [{}]}
    call = uuid.uuid4().hex[:8]
    out = {}
    try:
        for name in names:
            rows = {}
            for tag, c in conf.items():
                _apply(spark, c)
                rows[tag] = sorted(map(tuple, run(name, spark, sf_dir).collect()), key=repr)
                spark.catalog.clearCache()
            check_equal(name, rows)
            for c in conf.values():
                _timed(spark, name, sf_dir, c, f"ab-{call}-warmup-{name}")
            timed = {tag: [] for tag in conf}
            for rep in range(reps):
                for tag in list(conf)[::-1 if rep % 2 else 1]:
                    timed[tag].append(
                        _timed(spark, name, sf_dir, conf[tag], f"ab-{call}-{name}-{tag}-{rep}"))
            drain_listener(spark.sparkContext)
            out[name] = {}
            for tag, runs in timed.items():
                ws = [w for w, _, _ in runs]
                groups = [f"ab-{call}-{name}-{tag}-{rep}" for rep in range(reps)]
                builds = job_counters(spark.sparkContext, [f"{g}-build" for g in groups])
                counts = job_counters(spark.sparkContext, groups)
                per = [add_counters([builds[f"{g}-build"], counts[g]]) for g in groups]
                q1, _, q3 = statistics.quantiles(ws, n=4) if len(ws) > 1 else ws * 3
                out[name][tag] = {
                    "rows": len(rows[tag]), "wall_s": ws,
                    "wall_median": statistics.median(ws), "wall_q1": q1, "wall_q3": q3,
                    **{c: statistics.median(p[c] for p in per) for c in COUNTERS},
                    "build_s": statistics.median(b for _, b, _ in runs),
                    "build_round_trips": statistics.median(t for _, _, t in runs),
                    "build_jobs": statistics.median(p["jobs"] for p in builds.values()),
                }
    finally:
        _apply(spark, saved)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", metavar="QUERY")
    ap.add_argument("--arm", action="append", default=[],
                    help="comma-separated k=v session confs; v=UNSET unsets k")
    ap.add_argument("--reps", type=int, default=6)
    args = ap.parse_args()
    arms = [dict(kv.split("=", 1) for kv in a.split(",")) for a in args.arm]
    spark = build_session("ab")
    res = compare(spark, SF_DIR, args.names, arms, args.reps)
    spark.stop()
    print(f"{'arm':58s} {'wall_s (q1-q3)':>21s} " + " ".join(COUNTERS + BUILD))
    for name, per_arm in res.items():
        rows = next(iter(per_arm.values()))["rows"]
        print(f"# {name}: {rows} rows, equal across {len(per_arm)} arm(s); reps={args.reps}")
        for tag, r in per_arm.items():
            wall = f"{r['wall_median']:.3f} ({r['wall_q1']:.3f}-{r['wall_q3']:.3f})"
            print(f"{tag[:58]:58s} {wall:>21s} "
                  + " ".join(f"{r[c]:{len(c)}.0f}" for c in COUNTERS)
                  + f" {r['build_s']:7.3f} "
                  + " ".join(f"{r[c]:{len(c)}.0f}" for c in BUILD[1:]))


if __name__ == "__main__":
    main()
