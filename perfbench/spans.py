"""Measurement at the layer boundaries, from outside the engine.

- ``Tracer`` wraps each layer's public functions, in every engine module
  that holds a reference to them, with a span that records name, layer,
  start, end and parent, and runs the span's Spark jobs under a job group
  of its own. Spans stay in memory until the run writes them out.
- ``jvm_counters`` reads the codegen, JIT and GC counters and
  ``catalyst_phases`` the Catalyst phase times of an executed DataFrame.
- ``job_counters`` sums executor work over the stages of a set of job
  groups, from the status store.
- ``ProcTree`` reads CPU time and peak RSS of the driver, the JVM and the
  JVM's Python workers from /proc.

No engine file is changed: wrapping rebinds module attributes in this
process only, and ``Tracer.restore`` undoes it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time

# layer -> engine functions; "module:*" is every public function the module
# defines, "module:Class.method" a method.
LAYERS: dict[str, tuple[str, ...]] = {
    "sql": (
        "seccosql_spark.sql.preprocessor:execute_dialect_sql",
        "seccosql_spark.sql.preprocessor:run_with_recursive",
        "seccosql_spark.sql.preprocessor:rewrite_match",
    ),
    "plans": (
        "seccosql_spark.plans.ghd:decompose",
        "seccosql_spark.plans.ghd:multiway_natural_join",
        "seccosql_spark.plans.wcoj:wcoj_natural_join",
        "seccosql_spark.plans.pkfk:plan_star_join",
        "seccosql_spark.plans.stats:observe_join_stats",
        "seccosql_spark.plans.sizing:size_gated_checkpoint",
    ),
    "graph": (
        "seccosql_spark.graph.graphframe:SeccoGraphFrame.pattern",
        "seccosql_spark.graph.graphframe:SeccoGraphFrame.message_passing",
        "seccosql_spark.graph.algorithms:*",
    ),
    "operators": (
        "seccosql_spark.operators.dedup:*",
        "seccosql_spark.operators.similarity:*",
        "seccosql_spark.operators.text:*",
        "seccosql_spark.operators.packing:*",
        "seccosql_spark.operators.multimodal:*",
    ),
    "streaming": ("seccosql_spark.streaming.ops:*",),
    "lakehouse.commit": (
        "seccosql_spark.operators.lakehouse:create_table",
        "seccosql_spark.operators.lakehouse:merge_cow",
        "seccosql_spark.operators.lakehouse:append_commit",
        "seccosql_spark.operators.lakehouse:compact",
    ),
    "lakehouse.read": (
        "seccosql_spark.operators.lakehouse:read_table",
        "seccosql_spark.operators.lakehouse:scan_table",
    ),
}

JOB_GROUP = "spark.jobGroup.id"


def _targets(spec: str) -> list[tuple[object, str, object]]:
    """(owner, attribute, function) for one LAYERS entry."""
    mod_name, _, attr = spec.partition(":")
    mod = importlib.import_module(mod_name)
    if attr == "*":
        return [
            (mod, n, f) for n, f in vars(mod).items()
            if inspect.isfunction(f) and f.__module__ == mod_name and not n.startswith("_")
        ]
    if "." in attr:
        cls_name, meth = attr.split(".")
        cls = getattr(mod, cls_name)
        return [(cls, meth, vars(cls)[meth])]
    return [(mod, attr, getattr(mod, attr))]


def _files_under(d: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(d):
        for fn in files:
            p = os.path.join(root, fn)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Tracer:
    """Spans around layer calls. With ``enabled`` False only the spans the
    benchmark opens itself are recorded and no engine function is wrapped."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def open(self, name: str, layer: str) -> dict:
        with self._lock:
            span = {
                "id": len(self.spans),
                "parent": self._stack[-1]["id"] if self._stack else None,
                "name": name,
                "layer": layer,
                "start": time.perf_counter(),
                "end": None,
                "group": f"perfbench-{len(self.spans)}",
                "prev_group": self.sc.getLocalProperty(JOB_GROUP),
            }
            self.spans.append(span)
            self._stack.append(span)
        self.sc.setLocalProperty(JOB_GROUP, span["group"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self.sc.setLocalProperty(JOB_GROUP, span.pop("prev_group"))
        with self._lock:
            if self._stack and self._stack[-1] is span:
                self._stack.pop()

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        span = self.open(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    # -- wrapping ------------------------------------------------------------
    def _wrapper(self, fn, layer: str):
        name = f"{fn.__module__}.{fn.__qualname__}"
        sig = inspect.signature(fn) if layer == "lakehouse.commit" else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if sig is None:
                return self.call(name, layer, fn, *args, **kwargs)
            table_dir = sig.bind_partial(*args, **kwargs).arguments.get("table_dir")
            before = _files_under(table_dir) if table_dir else {}
            span = self.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)
                new = {p: b for p, b in _files_under(table_dir).items() if p not in before} if table_dir else {}
                span["files_written"] = len(new)
                span["bytes_written"] = sum(new.values())

        return traced

    def wrap_layers(self) -> None:
        """Wrap every LAYERS function wherever an engine module refers to it
        (``from x import f`` copies the reference into the importer)."""
        if not self.enabled:
            return
        swap: dict[int, tuple] = {}  # id(original) -> (original, wrapper)
        for layer, specs in LAYERS.items():
            for spec in specs:
                for owner, attr, fn in _targets(spec):
                    if id(fn) not in swap:
                        swap[id(fn)] = (fn, self._wrapper(fn, layer))
                    self._patch(owner, attr, swap[id(fn)][1])
        for mod in [m for n, m in sys.modules.items() if n.startswith("seccosql_spark") and m]:
            for attr, val in list(vars(mod).items()):
                hit = swap.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patch(mod, attr, hit[1])

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, old in reversed(self._patched):
            setattr(owner, attr, old)
        self._patched.clear()


def drain_listener(sc) -> None:
    """Wait until the status store has seen every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


STAGE_FIELDS = (
    ("run_ms", "executorRunTime", 1),
    ("cpu_ms", "executorCpuTime", 1e-6),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("input_bytes", "inputBytes", 1),
    ("tasks", "numCompleteTasks", 1),
)


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, **{k: 0.0 for k, _, _ in STAGE_FIELDS}}


def job_counters(sc, groups) -> dict[str, dict]:
    """Per job group: jobs, executed (not skipped) stages and executor work.
    Call ``drain_listener`` first."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    per = {}
    for g in groups:
        out = per[g] = _zero()
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, getter, scale in STAGE_FIELDS:
                    out[key] += getattr(sd, getter)() * scale
    return per


def add_counters(parts) -> dict:
    out = _zero()
    for c in parts:
        for k, v in c.items():
            out[k] += v
    return out


def jvm_counters(sc) -> dict:
    """Cumulative JVM-wide counters: codegen compile time and count, JIT
    time, GC time (all ms)."""
    jvm = sc._jvm
    mf = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "codegen.compile_ms": codegen.compileTime() / 1e6,
        "codegen.classes": metrics.METRIC_COMPILATION_TIME().getCount(),
        "jvm.jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "jvm.gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
    }


def catalyst_phases(df) -> dict:
    """Catalyst phase durations (ms) of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        out[f"catalyst.{p}_ms"] = o.get().durationMs() if o.isDefined() else 0
    return out


class ProcTree:
    """CPU seconds and peak RSS of this process's descendants, from /proc.

    CPU includes ``cutime``/``cstime``, so the time of a worker that exited
    and was reaped by a live parent is kept. Python workers are the
    JVM's python descendants."""

    _TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    @staticmethod
    def _stat(pid: int) -> tuple[str, int, float] | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            return None
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2:].split()
        cpu = sum(int(x) for x in fields[11:15]) / ProcTree._TICK
        return comm, int(fields[1]), cpu

    def _procs(self) -> dict[int, tuple[str, int, float]]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = self._stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        return procs

    @staticmethod
    def _descendants(procs, root: int) -> list[int]:
        kids: dict[int, list[int]] = {}
        for pid, (_c, ppid, _cpu) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def jvm_pid(self, procs=None) -> int | None:
        procs = procs or self._procs()
        for pid in self._descendants(procs, self.root):
            if procs[pid][0] == "java":
                return pid
        return None

    def cpu(self) -> dict:
        """{"total_s": driver + JVM + workers, "worker_s": JVM's python
        descendants}."""
        procs = self._procs()
        total = sum(procs[p][2] for p in self._descendants(procs, self.root) if p in procs)
        jvm = self.jvm_pid(procs)
        workers = 0.0
        if jvm is not None:
            workers = sum(
                procs[p][2] for p in self._descendants(procs, jvm)
                if p != jvm and procs[p][0].startswith("python")
            )
        return {"total_s": total, "worker_s": workers}

    def peak_rss_mb(self) -> float:
        """VmHWM of the JVM plus that of its live python descendants."""
        procs = self._procs()
        jvm = self.jvm_pid(procs)
        if jvm is None:
            return 0.0
        pids = [p for p in self._descendants(procs, jvm) if p == jvm or procs[p][0].startswith("python")]
        kb = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024.0
