#!/usr/bin/env python3
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Methodology (learned the hard way in round 2, where a registry reorder moved
the heavy array-codegen pipelines into early timed slots and published 20x
JIT-warmup artifacts as engine time):

- the headline ORDER is pinned here, independent of registry order;
- each query is warmed ADAPTIVELY — re-run until each adjacent pair of
  the last THREE runs agrees within 20% (max 7 runs; two-in-a-row through
  r16, which declared convergence on the C2 ramp's shoulder and timed
  dedup_minhash_lsh's compilation hump as engine time — r16 driver 1.37s vs
  0.85 steady-state), because a single warmup pass does not reach C2 steady
  state for the giant generated methods (md5-array minhash, the
  zip_with/aggregate cosine fold);
- then timed 3 runs (extended to 7 when the 3 disagree by more than 2x —
  a median-of-3 can still land on a steal-perturbed run; 7 gives the median
  a quorum of clean runs): the PRIMARY per-query number is the MEDIAN
  (robust to one steal burst without cherry-picking the fastest run); the
  min over all post-first runs is kept as a secondary field
  (`queries_min` / `pinned_total_min_sec`) because rounds 1-6 published
  min-based numbers — cross-round ratios against those rounds must use the
  *_min fields (VERDICT r06 task 4);
- persisted intermediates are dropped between queries (clearCache) so one
  query's working set cannot inflate its successors' GC time;
- a measured CPU canary (single-thread + all-cores forked loop) runs before
  each query and lands in BENCH_RAW.json as `canary_before` — this host's
  hypervisor bursts are invisible to loadavg/steal, so the canary is the
  only artifact-visible proof a run was clean (r17 task 7; the acceptance
  thresholds live in OPTIMIZATION_r17.md's quiet-window rule).
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from seccosql_spark.registry import REGISTRY, run  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Pinned execution order (= the round-1 order that produced the 9.31s
# baseline, so per-query ratios stay comparable across rounds). Any new
# headliner registered later is appended after these.
HEADLINE_ORDER = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_join_chain",
    "g_triangle_count",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_cosine_bruteforce",
    "q7_nation_volume",
]

WARMUP_MAX_RUNS = 7
WARMUP_STABLE_RTOL = 0.20
# Warmup runs whose adjacent pairs must each agree within RTOL before timing
# starts (r17, VERDICT r16 task 2): two-within-20% declared convergence on
# the JIT RAMP of the generated md5-array loop (dedup_minhash_lsh's warmup
# arrays show 0.9 -> 1.6 -> 2.4 -> 2.9 -> 0.8 humps: two adjacent ramp
# points agree while C2 compilation still runs on background threads, and
# the driver then timed the hump at 1.37s vs 0.85 steady-state). Three in a
# row cannot all sit on the ramp's shoulder; the cap rises 5 -> 7 so the
# stricter rule still has room to converge. Timed-run methodology unchanged.
WARMUP_STABLE_RUNS = 3
TIMED_RUNS = 3
# Variance-adaptive extension (VERDICT r10 task 1): if the spread within the
# timed runs exceeds this factor, at least one run was perturbed (host steal
# burst) and a median-of-3 can still land on a perturbed run — extend to 7
# timed runs so the median has a quorum of clean ones.
VARIANCE_SPREAD_FACTOR = 2.0
TIMED_RUNS_EXTRA = 4

# Loadavg guard (VERDICT r09 task 3): the r08/r09 "regressions" were host
# CPU-steal bursts, visible as loadavg 3-5 before the affected queries. Wait
# for a quiet host before timing each query; record how long we waited so a
# run that timed out waiting is distinguishable from a genuinely quiet one.
LOAD_QUIET_THRESHOLD = float(os.environ.get("SPARK_GRAFT_LOAD_QUIET", "2.0"))
LOAD_WAIT_STEP_SEC = 10.0
LOAD_WAIT_MAX_SEC = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_MAX", "120"))


def _wait_for_quiet_host() -> float:
    """Sleep until 1-min loadavg drops below threshold (bounded). Returns
    total seconds waited. External load is the #1 confounder on this host.

    Two exits besides "quiet": (a) max-wait cap, (b) loadavg plateaued above
    the threshold for TWO consecutive steps — that is SUSTAINED external load
    (our own JVM is idle here and self-load decays ~e^(-t/60)), so waiting
    longer buys nothing and the recorded wait + load_before in BENCH_RAW.json
    is the steal diagnosis. One non-decaying step is NOT enough to bail: a
    single noisy 1-min loadavg reading that decays slightly slower than
    5%/10s would otherwise abort the wait on genuinely-ours decaying load
    (ADVICE r10)."""
    waited = 0.0
    prev = os.getloadavg()[0]
    plateau_steps = 0
    while prev > LOAD_QUIET_THRESHOLD and waited < LOAD_WAIT_MAX_SEC:
        time.sleep(LOAD_WAIT_STEP_SEC)
        waited += LOAD_WAIT_STEP_SEC
        cur = os.getloadavg()[0]
        if cur > prev * 0.95:  # not decaying this step
            plateau_steps += 1
            if plateau_steps >= 2:  # sustained external load
                return waited
        else:
            plateau_steps = 0
        prev = cur
    return waited


# Headline totals drift gate (VERDICT r15 task 7): per-query BENCH_RAW
# forensics exist, but nothing compared the headline TOTAL round-over-round
# — the exact blind spot that let r15's TPC-H artifact inherit a uniform
# ~1.3x ambient inflation silently. Computed over the COMMON query set so
# a headliner added/retired between rounds can't fake or mask a move.
TOTAL_DRIFT_FACTOR = 1.25


def compute_total_drift(
    prev_queries: dict[str, float] | None,
    new_queries: dict[str, float],
    prev_source: str | None = None,
    triage: str | None = None,
) -> dict | None:
    """Pure round-over-round headline-totals compare (unit-tested without
    a Spark run, mirroring scripts/bench_tpch.py compute_drift_flags).
    Returns None when there is no comparable previous round; otherwise a
    dict with the common-set totals, the ratio, and ``flagged`` set when
    the ratio leaves [1/TOTAL_DRIFT_FACTOR, TOTAL_DRIFT_FACTOR] either way
    (uniform collapse after an inflated round also resets the baseline and
    deserves its note). A flagged result carries ``triage`` (may be None —
    the pytest gate fails the suite until one is committed)."""
    common = sorted(set(prev_queries or {}) & set(new_queries))
    if not common:
        return None
    pt = sum(prev_queries[n] for n in common)
    nt = sum(new_queries[n] for n in common)
    if pt <= 0:
        return None
    ratio = nt / pt
    out = {
        "prev_total": round(pt, 3),
        "now_total": round(nt, 3),
        "ratio": round(ratio, 3),
        "common_queries": len(common),
        "prev_source": prev_source,
        "flagged": ratio > TOTAL_DRIFT_FACTOR or ratio < 1 / TOTAL_DRIFT_FACTOR,
    }
    if out["flagged"]:
        out["triage"] = triage
    return out


def _latest_bench_round(repo: str) -> tuple[str, dict] | None:
    """Newest committed BENCH_r{N}.json (the driver's per-round artifact)
    with a parseable queries map."""
    import glob
    import re as _re

    best: tuple[int, str] | None = None
    for p in glob.glob(os.path.join(repo, "BENCH_r*.json")):
        m = _re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        if m:
            n = int(m.group(1))
            if best is None or n > best[0]:
                best = (n, p)
    if best is None:
        return None
    try:
        with open(best[1]) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    queries = (doc.get("parsed") or doc).get("queries") if isinstance(doc, dict) else None
    if not isinstance(queries, dict) or not queries:
        return None
    return os.path.basename(best[1]), queries


def _read_first(*paths: str) -> str | None:
    for p in paths:
        try:
            with open(p) as f:
                return f.read().strip()
        except OSError:
            continue
    return None


def _host_snapshot() -> dict:
    """Machine-checkable host-state capture (VERDICT r13 task 6): this
    container shows hour-scale uniform timing drift on unchanged code, and
    until now the claim rested on narrative + 1-min loadavg. Snapshot the
    full /proc/loadavg line, the cumulative CPU jiffies split (user/sys/
    idle/iowait/steal — STEAL is the smoking gun for hypervisor
    contention), and the cgroup CPU quota + throttle counters, before and
    after each query — a judge can then compute per-query steal%% and
    throttle deltas from BENCH_RAW alone instead of trusting the drift
    note."""
    snap: dict = {}
    la = _read_first("/proc/loadavg")
    if la is not None:
        snap["loadavg"] = la
    stat = _read_first("/proc/stat")
    if stat is not None:
        f = stat.splitlines()[0].split()  # "cpu user nice sys idle iowait irq softirq steal ..."
        if f and f[0] == "cpu":
            vals = [int(x) for x in f[1:]]
            snap["cpu_jiffies"] = {
                "total": sum(vals),
                "idle": vals[3] if len(vals) > 3 else None,
                "iowait": vals[4] if len(vals) > 4 else None,
                "steal": vals[7] if len(vals) > 7 else None,
            }
    quota = _read_first(
        "/sys/fs/cgroup/cpu.max", "/sys/fs/cgroup/cpu/cpu.cfs_quota_us"
    )
    if quota is not None:
        snap["cpu_quota"] = quota
    cpu_stat = _read_first(
        "/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat"
    )
    if cpu_stat is not None:
        kv = dict(
            ln.split(None, 1) for ln in cpu_stat.splitlines() if " " in ln
        )
        snap["throttle"] = {
            k: int(kv[k]) for k in
            ("nr_periods", "nr_throttled", "throttled_usec", "throttled_time")
            if k in kv
        }
    return snap


# Active CPU-contention canary (VERDICT r16 task 7): this host's 2-4 min
# hypervisor bursts are invisible to loadavg AND steal jiffies (BENCH_RAW
# r16 forensics: steal% <= 1.7 while identical runs swung 2.5x), so the
# passive _host_snapshot cannot prove a driver run was clean. Measure CPU
# throughput directly instead: one fixed single-thread loop (per-core
# speed) and the same loop forked across all cores (whole-host headroom —
# wall time inflates when the hypervisor caps the container). Recorded per
# query in BENCH_RAW next to host_before, additions-only; the quiet-window
# acceptance rule in OPTIMIZATION_r17.md reads these fields.
CANARY_LOOP_N = 2_000_000


def _canary_loop(n: int = CANARY_LOOP_N) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def _cpu_canary(nproc: int) -> dict:
    """{"single_sec", "nproc", "nproc_wall_sec"} — pure-compute probe.
    Children are raw os.fork + os._exit (no multiprocessing.Pool locks, so
    forking from the threaded py4j driver is safe: the child only runs an
    arithmetic loop and exits)."""
    t0 = time.perf_counter()
    _canary_loop()
    single = time.perf_counter() - t0
    pids = []
    t0 = time.perf_counter()
    for _ in range(max(1, nproc)):
        pid = os.fork()
        if pid == 0:
            try:
                _canary_loop()
            finally:
                os._exit(0)
        pids.append(pid)
    for pid in pids:
        os.waitpid(pid, 0)
    wall = time.perf_counter() - t0
    return {
        "single_sec": round(single, 3),
        "nproc": nproc,
        "nproc_wall_sec": round(wall, 3),
    }


@contextlib.contextmanager
def py4j_round_trips():
    """Count the driver's py4j round trips inside the block: every command
    PySpark sends the JVM over its (pinned-thread) client-server gateway,
    except py4j's reference releases. py4j sends a release whenever Python
    frees a JVM object handle, so how many land inside the block depends on
    when earlier objects die, not on the code in it (the same warm build
    read 63 and 125 round trips with them). Yields a one-element list
    holding the running count."""
    from py4j.clientserver import ClientServerConnection

    count = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            count[0] += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send


def measure_runs(
    once, warmups: int | None = 2
) -> tuple[list[float], list[float], int]:
    """The ONE measurement loop, for any ``once() -> rows`` callable (so
    write-path measurements — each rep commits a DIFFERENT slice,
    scripts/bench_slope.py's DELETE/INSERT rows — share the identical
    discipline instead of pasting it). Warmup is `warmups` calls, or with
    ``warmups=None`` ADAPTIVE: up to WARMUP_MAX_RUNS calls, stopping once
    each adjacent pair of the last WARMUP_STABLE_RUNS runs agrees within
    WARMUP_STABLE_RTOL. Then TIMED_RUNS timed calls, extended by
    TIMED_RUNS_EXTRA when their spread exceeds VARIANCE_SPREAD_FACTOR.
    Returns (warmup_sec, timed_sec, rows)."""
    n = 0
    warm: list[float] = []
    timed: list[float] = []

    def call(into: list[float]) -> None:
        nonlocal n
        t0 = time.perf_counter()
        n = once()
        into.append(time.perf_counter() - t0)

    for _ in range(WARMUP_MAX_RUNS if warmups is None else warmups):
        call(warm)
        if (
            warmups is None
            and len(warm) >= WARMUP_STABLE_RUNS
            and all(
                abs(warm[-k] - warm[-k - 1]) <= WARMUP_STABLE_RTOL * warm[-k - 1]
                for k in range(1, WARMUP_STABLE_RUNS)
            )
        ):
            break
    for _ in range(TIMED_RUNS):
        call(timed)
    if max(timed) > VARIANCE_SPREAD_FACTOR * min(timed):
        for _ in range(TIMED_RUNS_EXTRA):
            call(timed)
    return warm, timed, n


def timed_median_call(
    once, warmups: int = 2, spark: SparkSession | None = None
) -> tuple[float, int, bool]:
    """``measure_runs`` with `warmups` fixed warmup calls, reduced to the
    median timed run; cache cleared after when a session is given.
    Returns (median_sec, rows, extended)."""
    _warm, timed, n = measure_runs(once, warmups)
    if spark is not None:
        spark.catalog.clearCache()
    return sorted(timed)[len(timed) // 2], n, len(timed) > TIMED_RUNS


def timed_median(
    name: str, spark: SparkSession, sf_dir: str, warmups: int = 2
) -> tuple[float, int, bool]:
    """Fixed-warmup median timing — the ONE loop the offline artifacts
    (scripts/bench_slope.py, scripts/bench_tpch.py) share, so their
    'same measurement discipline as bench.py' claim cannot drift
    (review r14). Returns (median_sec, rows, extended)."""
    return timed_median_call(
        lambda: run(name, spark, sf_dir).count(), warmups, spark
    )


def build_session(app_name: str = "seccosql_spark_bench") -> SparkSession:
    """The ONE benchmark SparkSession config — shared with
    scripts/bench_slope.py so slope timings run under the identical
    shuffle/AQE setup as the headline medians they sit next to in
    BENCH_r{N}.json (r11 review: a pasted copy had silently dropped
    coalescePartitions)."""
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    spark = build_session()

    registered = [name for name, spec in REGISTRY.items() if spec.headline]
    headliners = [n for n in HEADLINE_ORDER if n in registered] + [
        n for n in registered if n not in HEADLINE_ORDER
    ]

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    runs_raw: dict[str, dict] = {}
    failures: dict[str, str] = {}
    for name in headliners:
        try:
            wait_sec = _wait_for_quiet_host()
            load0 = os.getloadavg()[0]
            host0 = _host_snapshot()
            canary0 = _cpu_canary(int(CPUS))
            # adaptive warmup, so the timed runs measure the engine once
            # codegen+JIT have converged, not the JVM ramp
            warm, timed, n = measure_runs(
                lambda: run(name, spark, SF_DIR).count(), warmups=None
            )
            times = warm + timed
            # PRIMARY: median of the timed runs — one CPU-steal burst (this
            # VM swings identical runs 2s<->14s) cannot drag it, and unlike
            # min it cannot cherry-pick a lucky run either.
            best = sorted(timed)[len(timed) // 2]
            # SECONDARY: min over all post-first runs — the steal-robust
            # floor rounds 1-6 published; kept for cross-round continuity.
            # The first run is excluded — it pays Janino codegen compilation.
            floor = min(times[1:]) if len(times) > 1 else times[0]
        except Exception as exc:  # one broken query must not zero the bench
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"# {name}: FAILED {failures[name]}", file=sys.stderr)
            continue
        finally:
            # drop persisted intermediates (e.g. the minhash feature cache)
            # so they don't accumulate across queries
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        timings_min[name] = round(floor, 3)
        # raw per-run times (warmup runs first, then the 3 timed runs) plus
        # 1-min loadavg before/after — VERDICT r08 task 7: regressions like
        # r08's 4x dedup_minhash_lsh (code unchanged, host steal suspected)
        # were un-diagnosable post-hoc from medians alone. A steal burst
        # shows as one outlier in the raw array + elevated load; an engine
        # regression shows as a uniformly shifted array at idle load.
        runs_raw[name] = {
            "warmup": [round(t, 3) for t in warm],
            "timed": [round(t, 3) for t in timed],
            "load_before": round(load0, 1),
            "load_after": round(os.getloadavg()[0], 1),
            "quiet_wait_sec": round(wait_sec, 1),
            "extended": len(timed) > TIMED_RUNS,
            # drift forensics (r13 task 6): spread = max/min of the timed
            # reps; host_before/after carry loadavg + cumulative steal
            # jiffies + cgroup throttle counters, so "uniform ambient
            # drift" vs "engine regression" is decidable from the artifact
            "spread": round(max(timed) / min(timed), 2) if min(timed) > 0 else None,
            # measured CPU-throughput canary before the query's warmup
            # (r17 task 7): contention that loadavg/steal cannot see shows
            # as an inflated single_sec or nproc_wall_sec here
            "canary_before": canary0,
            "host_before": host0,
            "host_after": _host_snapshot(),
        }
        print(
            f"# {name}: median {timings[name]}s / min {timings_min[name]}s"
            f" ({n} rows)", file=sys.stderr,
        )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # the r01-comparable basket: `value` also counts headliners appended
        # in later rounds, so cross-round ratios must use these subtotals.
        # pinned_total_sec is median-of-3 from r07 on; *_min_sec matches the
        # min-based definition rounds 1-6 used.
        "pinned_metric": "median_of_3",
        "pinned_total_sec": round(
            sum(t for n, t in timings.items() if n in HEADLINE_ORDER), 3
        ),
        "pinned_total_min_sec": round(
            sum(t for n, t in timings_min.items() if n in HEADLINE_ORDER), 3
        ),
        # Per-run arrays + loadavg live in BENCH_RAW.json (VERDICT r09 task 1:
        # inlining them here made the headline line longer than the driver's
        # bounded tail capture -> BENCH_r09 parsed:null). The headline line
        # must stay compact AND be the last stdout line.
        "raw_file": "BENCH_RAW.json",
        "notes": "loadavg guard active (wait-for-quiet before each query, "
                 "2-step plateau detection); timed runs auto-extend 3->7 on "
                 ">2x spread; per-run arrays + CPU canary in BENCH_RAW.json",
    }
    if failures:
        result["failures"] = failures
    # headline totals drift gate (VERDICT r15 task 7): compare this run's
    # per-query medians against the newest committed BENCH_r{N}.json over
    # the common query set; a >1.25x move either way is flagged and must
    # carry a triage note in BENCH_TRIAGE.json (key "total_vs_prev") —
    # test_bench_total_drift_is_triaged fails the suite otherwise
    repo = os.path.dirname(os.path.abspath(__file__))
    triage_note = None
    tpath = os.path.join(repo, "BENCH_TRIAGE.json")
    if os.path.exists(tpath):
        try:
            with open(tpath) as f:
                triage_note = json.load(f).get("total_vs_prev")
        except (OSError, json.JSONDecodeError):
            triage_note = None
    prev = _latest_bench_round(repo)
    tvp = compute_total_drift(
        prev[1] if prev else None, timings,
        prev_source=prev[0] if prev else None, triage=triage_note,
    )
    if tvp is not None:
        result["total_vs_prev"] = tvp
    # scaling-slope table (VERDICT r10 task 6): produced offline by
    # scripts/gen_sf1.py + scripts/bench_slope.py; folded in so the
    # driver's BENCH_r{N}.json carries the per-query sf1/sf0.1 ratios
    slope_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SLOPE.json")
    if os.path.exists(slope_path):
        with open(slope_path) as f:
            slope = json.load(f)
        result["sf1_slope"] = {
            n: v["ratio"] for n, v in slope.get("queries", {}).items()
        }
    # TPC-H-22 totals (scripts/bench_tpch.py): folded in so the driver's
    # BENCH_r{N}.json shows the widened regression surface at a glance;
    # per-query medians + drift flags live in TPCH_BENCH.json
    tpch_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "TPCH_BENCH.json"
    )
    if os.path.exists(tpch_path):
        with open(tpch_path) as f:
            tpch = json.load(f)
        result["tpch_totals"] = tpch.get("totals", {})
        # staleness indicator (ADVICE r14): the fold-in is an OFFLINE
        # artifact, not measured with this bench run — record when it was
        # measured (self-reported) and the file mtime so the judge can see
        # a months-old TPCH snapshot riding a fresh headline.
        result["tpch_meta"] = {
            "measured_at": tpch.get("measured_at"),
            "file_mtime_utc": _dt.datetime.fromtimestamp(
                os.path.getmtime(tpch_path), _dt.timezone.utc
            ).isoformat(timespec="seconds"),
        }
        if tpch.get("drift_flags"):
            result["tpch_drift_flags"] = sorted(tpch["drift_flags"])
    raw_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_RAW.json")
    with open(raw_path, "w") as f:
        json.dump(
            {
                # deliberately committed: the judge diagnoses variance
                # verdicts (steal burst vs engine regression) from these
                # per-run arrays; the snapshot is refreshed and committed
                # together with each round's published bench numbers.
                "note": "judge-facing raw-runs snapshot; regenerate with "
                        "`python bench.py`, commit alongside BENCH numbers",
                "runs_raw": runs_raw,
                "result": result,
            },
            f,
            indent=1,
        )
    # print BEFORE stop(): if stop() raises on a loaded JVM the result line
    # must not be lost (ADVICE r10). stop() emits only to stderr, so the
    # last-stdout-line invariant holds with the print first.
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
