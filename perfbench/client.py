"""The measured process: one SparkSession, one closed-loop client.

``run.py`` starts this file as a fresh process (so ``setup_s`` includes the
interpreter and the JVM launch) with a private TMPDIR and SPARK_LOCAL_DIRS,
and reads back the JSON record it writes to ``--out``.

Each op is timed from the call into ``registry.run`` through ``toPandas()``
of its result; the oracle check, counter reads and the canaries happen
between ops, outside every timed region. Pass 0 is the cold pass; steady
passes follow until their op time, at the reference host speed, reaches
``--seconds`` and they hold more than ``core.TAIL_BEYOND`` ops. The host
canary (``Canary``) runs before every steady op and once after the last;
each steady op is scaled to the reference host speed by the canaries on
either side of it (``core.host_scaled``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import pyspark  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import seccosql_spark.queries.lakehouse_q as lakehouse_q  # noqa: E402
from bench import SF_DIR, _cpu_canary  # noqa: E402
from perfbench import core, spans  # noqa: E402
from perfbench.workloads import READBACK, WORKLOADS, WRITE_VERBS  # noqa: E402
from seccosql_spark.registry import REGISTRY, run, session_for  # noqa: E402
from seccosql_spark.session import TESTDATA_TABLES  # noqa: E402
from tests.conftest import _canon  # noqa: E402

# stop starting passes once a run is this old, so it ends well within the
# 180 s a run may take
PASS_DEADLINE_S = 120.0
CANARY_ROWS = 2_000_000
CANARY_KEYS = 1000
CANARY_WARMUP = 5
SELF_LAYERS = ("sql", "plans", "graph", "operators", "streaming", "lakehouse.commit", "lakehouse.read")


def host_sizing() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # an eighth of the host's memory, within [1, 8] GiB: the host is shared
    heap_mb = max(1024, min(8192, mem_kb // 8 // 1024))
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "driver_heap_mb": heap_mb}


def build_session(sizing: dict, run_dir: str):
    n = sizing["nproc"]
    tmp = os.path.join(run_dir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", f"{sizing['driver_heap_mb']}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(run_dir, "checkpoints"))
    return spark


class Canary:
    """A fixed plain-Spark query (range, group by, ``toPandas()`` through
    Arrow) on a session of its own, so no engine setting reaches it. Like
    the ops at sf0.1 it is mostly fixed cost: planning, scheduling, the
    Py4J and Arrow round trips. Its wall time follows the shared host's
    speed, so the run's ops are scaled by it (``core.host_scaled``)."""

    def __init__(self, spark, nproc: int) -> None:
        self.spark = spark.newSession()
        self.nproc = nproc

    def run(self) -> float:
        t0 = time.perf_counter()
        pdf = (
            self.spark.range(0, CANARY_ROWS, 1, self.nproc)
            .selectExpr(f"id % {CANARY_KEYS} AS k", "id AS v")
            .groupBy("k").agg(F.sum("v").alias("s"))
            .toPandas()
        )
        wall = time.perf_counter() - t0
        if len(pdf) != CANARY_KEYS or int(pdf["s"].sum()) != CANARY_ROWS * (CANARY_ROWS - 1) // 2:
            raise RuntimeError("the host canary returned a wrong result")
        return wall


def load_oracles(names, data_dir: str, nproc: int) -> dict:
    """Every op's oracle answer, evaluated once, before any timed region."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {nproc}")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    try:
        return {n: con.sql(REGISTRY[n].oracle).df() for n in names}
    finally:
        con.close()


def dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


class Client:
    def __init__(self, args, spark, tracer: spans.Tracer, oracles: dict, sizing: dict) -> None:
        self.args = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.oracles = oracles
        self.nproc = sizing["nproc"]
        self.sess = session_for(spark, SF_DIR)
        self.proc = spans.ProcTree()
        self.canary = Canary(spark, self.nproc)
        for _ in range(CANARY_WARMUP):
            self.canary.run()
        self.records: list[dict] = []
        self.peak_rss_mb = 0.0
        self.stored_ratio: list[float] = []

    # -- one op ----------------------------------------------------------------
    def _measure(self, name: str, pass_index: int, body) -> dict:
        """Time ``body(rec)`` as one op and attach its counters to ``rec``."""
        rec = {"op": name, "pass": pass_index, "ok": False, "tol_cells": 0,
               "canary_s": self.canary.run() if pass_index > 0 else None}
        first_span = len(self.tracer.spans)
        cpu0 = self.proc.cpu()
        jvm0 = spans.jvm_counters(self.sc)
        t0 = time.perf_counter()
        op_span = self.tracer.open(name, "op")
        try:
            body(rec)
        except Exception as e:  # an op that raises is counted as failed
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        finally:
            self.tracer.close(op_span)
        rec["wall_s"] = time.perf_counter() - t0
        cpu1 = self.proc.cpu()
        jvm1 = spans.jvm_counters(self.sc)
        rec["cpu_s"] = cpu1["total_s"] - cpu0["total_s"]
        rec["python.worker_cpu_s"] = cpu1["worker_s"] - cpu0["worker_s"]
        rec.update({k: jvm1[k] - jvm0[k] for k in jvm0})
        # VmHWM only grows, but a python worker's dies with it: sample per op
        self.peak_rss_mb = max(self.peak_rss_mb, self.proc.peak_rss_mb())
        self._attach_counters(rec, self.tracer.spans[first_span:])
        self.records.append(rec)
        return rec

    def _attach_counters(self, rec: dict, op_spans: list[dict]) -> None:
        spans.drain_listener(self.sc)
        per = spans.job_counters(self.sc, [s["group"] for s in op_spans])
        work = spans.add_counters(per.values())
        rec.update({f"exec.{k}": v for k, v in work.items()})
        by_layer = {s["layer"]: s for s in op_spans if s["layer"] in ("build", "action")}
        for phase in ("build", "action"):
            if phase in by_layer:
                s = by_layer[phase]
                rec[f"{phase}.s"] = s["end"] - s["start"]
        build = by_layer.get("build")
        if build is not None:
            inside = [per[s["group"]] for s in op_spans if build["start"] <= s["start"] and s["end"] <= build["end"]]
            rec["build.jobs"] = spans.add_counters(inside)["jobs"]
        selfs = core.self_times(op_spans)
        rec["self_sum_s"] = sum(selfs.values())
        for layer in SELF_LAYERS:
            mine = [s for s in op_spans if s["layer"] == layer]
            rec[f"{layer}.self_s"] = sum(selfs[s["id"]] for s in mine)
            rec[f"{layer}.calls"] = len(mine)
            rec[f"{layer}.jobs"] = spans.add_counters(per[s["group"]] for s in mine)["jobs"]
            if layer == "lakehouse.commit":
                rec["lakehouse.bytes_written"] = sum(s.get("bytes_written", 0) for s in mine)
                rec["lakehouse.files_written"] = sum(s.get("files_written", 0) for s in mine)

    def _check(self, rec: dict, name: str, pdf) -> None:
        ok, tol, why = core.compare_frames(pdf, self.oracles[name], _canon)
        rec["ok"], rec["tol_cells"] = ok, tol
        if not ok:
            rec["error"] = f"oracle mismatch: {why}"[:500]

    def query_op(self, name: str, pass_index: int) -> dict:
        out = {}

        def body(rec):
            df = self.tracer.call("registry.run", "build", run, name, self.spark, SF_DIR)
            out["df"] = df
            out["pdf"] = self.tracer.call("toPandas", "action", df.toPandas)

        rec = self._measure(name, pass_index, body)
        if "pdf" in out:
            rec["action.rows"] = len(out["pdf"])
            rec.update(spans.catalyst_phases(out["df"]))
            self._check(rec, name, out["pdf"])
        return rec

    def write_sequence(self, pass_index: int) -> list[dict]:
        """The versioned-table write sequence into a fresh directory, each
        lakehouse verb call timed as one op, then each READBACK query
        against the table it built."""
        fresh = tempfile.mkdtemp(prefix=f"writes-{pass_index}-")
        prev = tempfile.tempdir
        tempfile.tempdir = fresh  # build_once places the table under gettempdir()
        recs: list[dict] = []

        def timed_verb(verb: str, fn):
            def op(*args, **kwargs):
                out = {}

                def body(rec):
                    out["ret"] = fn(*args, **kwargs)
                    rec["ok"] = True

                recs.append(self._measure(f"write.{verb}", pass_index, body))
                if "ret" not in out:
                    raise RuntimeError(f"write.{verb} failed: {recs[-1].get('error')}")
                return out["ret"]
            return op

        originals = {v: getattr(lakehouse_q, v) for v in WRITE_VERBS}
        try:
            for verb, fn in originals.items():
                setattr(lakehouse_q, verb, timed_verb(verb, fn))
            try:
                table = lakehouse_q._versioned_table(self.sess)
            except RuntimeError:
                table = None  # the failed verb is already counted
            finally:
                for verb, fn in originals.items():
                    setattr(lakehouse_q, verb, fn)
            if table is not None:
                orders = os.path.join(SF_DIR, "orders.parquet")
                self.stored_ratio.append(dir_bytes(table) / os.path.getsize(orders))
            recs += [self.query_op(n, pass_index) for n in READBACK]
        finally:
            tempfile.tempdir = prev
        return recs

    def run_pass(self, pass_index: int) -> tuple[float, dict]:
        """Run one pass; returns its op time and the CPU canary taken first."""
        canary = _cpu_canary(self.nproc)
        spec = WORKLOADS[self.args.workload]
        wall = 0.0
        for name in core.op_order(spec["ops"], self.args.seed, pass_index):
            wall += self.query_op(name, pass_index)["wall_s"]
        if spec["writes"]:
            wall += sum(r["wall_s"] for r in self.write_sequence(pass_index))
        return wall, canary


def summarize(records: list[dict], last_canary_s: float, setup_s: float, peak_rss_mb: float,
              stored: list[float], nproc: int) -> dict:
    cold = [r for r in records if r["pass"] == 0]
    steady = [r for r in records if r["pass"] > 0]
    lat = [r["wall_s"] for r in steady]
    tail, pct, beyond = core.tail_percentile(lat)
    failed = sum(not r["ok"] for r in records)
    e2e = {
        "setup_s": (setup_s, "s"),
        "steady_pass_ref_s": (core.pass_time(core.host_scaled(steady, last_canary_s)), "s"),
        "steady_pass_s": (core.pass_time(steady), "s"),
        "cold_pass_s": (sum(r["wall_s"] for r in cold), "s"),
        "cold_pass_cpu_s": (sum(r["cpu_s"] for r in cold), "s"),
        "ops_per_s": (len(steady) / sum(lat), "op/s"),
        "op_s.p50": (statistics.median(lat), "s"),
        "op_s.p90": (tail, "s"),
        "cpu_s_per_op": (sum(r["cpu_s"] for r in steady) / len(steady), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "error_rate": (failed / len(records), "fraction"),
        "canary_s": (statistics.median(r["canary_s"] for r in steady), "s"),
    }
    if stored:
        e2e["stored_bytes_per_user_byte"] = (statistics.median(stored), "ratio")

    def mean(key: str) -> float:
        return sum(r.get(key, 0) for r in steady) / len(steady)

    layer_keys = (
        "build.s", "build.jobs", "sql.self_s", "sql.calls", "plans.self_s", "plans.calls",
        "plans.jobs", "graph.self_s", "graph.jobs", "operators.self_s", "streaming.self_s",
        "lakehouse.bytes_written", "lakehouse.files_written",
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "codegen.compile_ms", "codegen.classes", "jvm.jit_ms", "jvm.gc_ms",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
        "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
        "exec.input_bytes", "python.worker_cpu_s", "action.s", "action.rows",
    )
    layers = {k: mean(k) for k in layer_keys}
    layers["lakehouse.commit_s"] = mean("lakehouse.commit.self_s")
    layers["lakehouse.read_s"] = mean("lakehouse.read.self_s")
    layers["lakehouse.stored_bytes_per_user_byte"] = statistics.median(stored) if stored else 0.0
    layers["codegen.cold_compile_ms"] = sum(r.get("codegen.compile_ms", 0) for r in cold)
    layers["jvm.cold_jit_ms"] = sum(r.get("jvm.jit_ms", 0) for r in cold)
    layers["exec.cpu_util"] = sum(r.get("exec.cpu_ms", 0) for r in steady) / (sum(lat) * 1000.0 * nproc)
    layers["trace.ops_per_s"] = e2e["ops_per_s"][0]
    return {
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": layers,
        "attempted": len(records),
        "failed": failed,
        "tol_cells": sum(r.get("tol_cells", 0) for r in records),
        "steady_ops": len(steady),
        "op_s.p90_percentile": pct,
        "op_s.p90_samples_beyond": beyond,
        "self_time_violations": sum(r["self_sum_s"] > r["wall_s"] for r in records),
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--spawned-at", type=float, required=True, help="time.monotonic() at spawn")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    # the sf0.1 test data, found as bench.py finds it
    missing = [t for t in TESTDATA_TABLES if not os.path.isfile(os.path.join(SF_DIR, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: no test data at {SF_DIR!r} (missing {missing}); "
              "set SPARK_GRAFT_SF_DIR to the sf0.1 directory", file=sys.stderr)
        return 2

    sizing = host_sizing()
    spark = build_session(sizing, args.run_dir)
    session_for(spark, SF_DIR)
    setup_s = time.monotonic() - args.spawned_at

    spec = WORKLOADS[args.workload]
    names = list(spec["ops"]) + (list(READBACK) if spec["writes"] else [])
    oracles = load_oracles(sorted(set(names)), SF_DIR, sizing["nproc"])
    tracer = spans.Tracer(spark.sparkContext, enabled=bool(args.trace))
    tracer.wrap_layers()
    client = Client(args, spark, tracer, oracles, sizing)

    timeline = {"setup": setup_s, "oracles": time.monotonic() - args.spawned_at}
    canaries = [client.run_pass(0)[1]]
    timeline["cold"] = time.monotonic() - args.spawned_at
    pass_index = 1
    while True:
        wall, canary = client.run_pass(pass_index)
        canaries.append(canary)
        pass_index += 1
        measured = [r for r in client.records if r["pass"] > 0]
        # op time at the reference host speed, so that the number of passes
        # (later passes of a writing workload run slower) does not depend on
        # how busy the host is; and enough samples that op_s.p90 has
        # TAIL_BEYOND above it
        steady_ref = sum(r["wall_s"] * core.CANARY_REF_S / r["canary_s"] for r in measured)
        if (steady_ref >= args.seconds and len(measured) > core.TAIL_BEYOND) or \
                time.monotonic() - args.spawned_at + wall > PASS_DEADLINE_S:
            break
    last_canary_s = client.canary.run()
    timeline["steady"] = time.monotonic() - args.spawned_at
    tracer.restore()

    summary = summarize(client.records, last_canary_s, setup_s, client.peak_rss_mb, client.stored_ratio, sizing["nproc"])
    jvm = spark.sparkContext._jvm.java.lang.System
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {**sizing, "pyspark": pyspark.__version__,
                 "jdk": jvm.getProperty("java.version"), "loadavg": os.getloadavg()},
        "canary_per_pass": canaries,
        "timeline_s": timeline,
        **summary,
        "ops": client.records,
    }
    if args.trace:
        record["spans"] = [{k: v for k, v in s.items() if k != "group"} for s in tracer.spans]
    with open(args.out, "w") as f:
        json.dump(record, f, default=str)
    # run.py kills this process group (the JVM and its Python workers) and
    # waits for it; skipping spark.stop() and interpreter teardown saves
    # about 2.5 s of every run
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
