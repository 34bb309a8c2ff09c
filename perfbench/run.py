#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Starts the measured client (``client.py``) as a fresh process in a private
run directory, checks its record and prints every metric. The inputs are
the engine's sf0.1 test data, found as ``bench.py`` finds it
(``$SPARK_GRAFT_SF_DIR``); ``--seed`` fixes the order of the ops. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The end-to-end metrics that are printed but
not gated are listed, with the reason, at ``workloads.PRINTED_METRICS``.
The full record, with per-op counters, the CPU canary of each pass and,
when traced, every span, is kept under ``.perfbench/records``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
CHILD_TIMEOUT_S = 170


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the client's process group (the JVM and its
    Python workers if the client died first) and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _print_metrics(title: str, metrics: dict) -> None:
    print(title)
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path.insert(0, REPO)
    from perfbench.workloads import E2E_METRICS, LAYER_METRICS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the finally blocks below, which stop the client
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse", "checkpoints"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    out = os.path.join(run_dir, "record.json")
    env = dict(os.environ, TMPDIR=os.path.join(run_dir, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = [
        sys.executable, os.path.join(HERE, "client.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--out", out,
    ]
    try:
        proc = subprocess.Popen(
            [*cmd, "--spawned-at", repr(time.monotonic())],
            env=env, cwd=run_dir, stdout=sys.stderr, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: client failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as f:
            record = json.load(f)
        records = os.path.join(STATE, "records")
        os.makedirs(records, exist_ok=True)
        shutil.copy(out, os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = record["end_to_end"]
    layers = {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in record["per_layer"].items()}
    _print_metrics(f"{args.workload} seed={args.seed} end-to-end", e2e)
    print(f"  oracle: {record['attempted']} ops, {record['failed']} failed, "
          f"{record['tol_cells']} float cells within tolerance; "
          f"op_s.p90 is p{record['op_s.p90_percentile']:.0f} over {record['steady_ops']} "
          f"samples ({record['op_s.p90_samples_beyond']} beyond)")
    if args.trace:
        _print_metrics("per-layer (traced run, per steady op)", layers)
    metrics = layers if args.trace else {k: e2e[k] for k in E2E_METRICS}
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: metrics[k] for k in (LAYER_METRICS if args.trace else E2E_METRICS)},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
