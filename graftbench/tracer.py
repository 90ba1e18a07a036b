"""Layer tracing from outside the program.

Nothing here edits the package. Timing wrappers are swapped into the
package's module namespaces around each layer's public functions and
swapped back afterwards; JVM, status-store and Catalyst counters are read
through py4j; streaming progress arrives through the pipeline's
``PROGRESS_SINK`` hook; CPU and I/O of the process tree come from /proc.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import time
from collections import defaultdict

PKG = "mini_project_big_data_analysis_spark"

#: layer name -> modules whose public functions belong to it
LAYER_MODULES = {
    "sources": ("sources.readers", "sources.events"),
    "dedup": ("operators.dedup",),
    "similarity": ("operators.similarity",),
    "text": ("functions.text_fns",),
    "sinks": ("sources.writers",),
}
OPERATOR_LAYERS = ("dedup", "similarity", "text")

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------- wrappers


class Spans:
    """Inclusive time and call counts per layer, with self time for the
    frames the caller opens itself (the registry function's build)."""

    def __init__(self) -> None:
        self.ms: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._stack: list[list] = []  # [layer, start, child_ms, outermost]
        self._swapped: list[tuple[object, str, object]] = []

    def enter(self, layer: str) -> None:
        outer = not self._stack or self._stack[-1][0] != layer
        self._stack.append([layer, time.perf_counter(), 0.0, outer])

    def exit(self) -> float:
        """Close the innermost frame; returns its self time in ms."""
        layer, start, child, outer = self._stack.pop()
        dur = (time.perf_counter() - start) * 1e3
        if outer:
            self.ms[layer] += dur
            self.calls[layer] += 1
            if self._stack:
                self._stack[-1][2] += dur
        return dur - child

    def _wrapper(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            self.enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.exit()

        return timed

    def install(self, layers=LAYER_MODULES) -> None:
        """Swap a timing wrapper in for every public function of each
        layer's modules, in every loaded package module that refers to it."""
        targets: dict[int, object] = {}
        for layer, mods in layers.items():
            for rel in mods:
                mod = importlib.import_module(f"{PKG}.{rel}")
                for name, fn in vars(mod).items():
                    if (
                        name.startswith("_")
                        or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__
                        or hasattr(fn, "evalType")  # a pandas/Python UDF object
                    ):
                        continue
                    targets[id(fn)] = self._wrapper(layer, fn)
        for mod in [m for n, m in sys.modules.items() if n.startswith(PKG) and m]:
            for name, value in list(vars(mod).items()):
                wrapped = targets.get(id(value))
                if wrapped is not None:
                    setattr(mod, name, wrapped)
                    self._swapped.append((mod, name, value))

    def restore(self) -> None:
        for mod, name, fn in reversed(self._swapped):
            setattr(mod, name, fn)
        self._swapped.clear()


# ----------------------------------------------------------------- /proc


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def proc_stat(pid: int) -> tuple[str, int] | None:
    """(command name, cpu ticks of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    return comm, sum(int(x) for x in fields[11:15])


def tree_cpu_ms(root: int) -> float:
    ticks = 0
    for pid in process_tree(root):
        st = proc_stat(pid)
        if st:
            ticks += st[1]
    return ticks * 1e3 / CLK_TCK


def python_workers(root: int) -> dict[int, float]:
    """pid -> cpu ms of every Python process below the JVM (the PySpark
    daemon and its forked workers); the worker's own interpreter is the
    root and is excluded."""
    out = {}
    for pid in process_tree(root)[1:]:
        st = proc_stat(pid)
        if st and st[0].startswith("python"):
            out[pid] = st[1] * 1e3 / CLK_TCK
    return out


def tree_write_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident bytes of the process tree by command name. A child of the
    JVM that still runs the JVM's executable is a fork about to exec a
    Python worker; its pages are the JVM's, so it is not counted."""
    out: dict[str, int] = defaultdict(int)
    todo = [(root, None)]
    while todo:
        pid, parent_exe = todo.pop()
        st = proc_stat(pid)
        exe = _exe(pid)
        todo.extend((c, exe) for c in _children(pid))
        if st is None or (parent_exe and exe == parent_exe and parent_exe.endswith("/java")):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[st[0]] += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return out


def host_cpu() -> tuple[float, float]:
    """(busy ms, steal ms) of the whole host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    busy = user + nice + system + irq + softirq
    return busy * 1e3 / CLK_TCK, steal * 1e3 / CLK_TCK


# ------------------------------------------------------------------ JVM


class Jvm:
    """Counters read through the session's py4j gateway."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()
        self._mem = mf.getMemoryMXBean()
        self._system = jvm.System
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def runtime(self) -> dict[str, float]:
        return {
            "gc_ms": float(sum(b.getCollectionTime() for b in self._gcs)),
            "gc_count": float(sum(b.getCollectionCount() for b in self._gcs)),
            "jit_ms": float(self._jit.getTotalCompilationTime()),
            "heap_committed_mb": self._mem.getHeapMemoryUsage().getCommitted() / 2**20,
        }

    def full_gc(self) -> None:
        self._system.gc()

    def wait_jit_idle(self, idle_ms: int, max_s: float) -> float:
        """Sleep until the JIT's total compilation time has not grown for
        ``idle_ms``, at most ``max_s``; returns the seconds waited."""
        t0 = time.perf_counter()
        last, quiet_since = self._jit.getTotalCompilationTime(), t0
        while time.perf_counter() - t0 < max_s:
            time.sleep(0.05)
            now = self._jit.getTotalCompilationTime()
            if now != last:
                last, quiet_since = now, time.perf_counter()
            elif (time.perf_counter() - quiet_since) * 1e3 >= idle_ms:
                break
        return time.perf_counter() - t0

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        """Ids of the jobs recorded so far under job group ``group``."""
        self._drain()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_metrics(self, job_ids) -> dict[str, float]:
        """Summed metrics of the completed stages of ``job_ids``."""
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out: dict[str, float] = defaultdict(float)
        for sid in sorted(stage_ids):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["executor_run_ms"] += s.executorRunTime()
            out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            out["input_records"] += s.inputRecords()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    @staticmethod
    def plan_phases(df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s QueryExecution. Analysis ran when
        the frame was built; optimization and planning are forced here, on
        the same logical plan the op's write optimized and planned."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


def stream_progress(records: list) -> dict[str, float]:
    """Sum the micro-batch progress the pipeline appended to PROGRESS_SINK."""
    out: dict[str, float] = defaultdict(float)
    for rec in records:
        for p in rec["progress"]:
            out["batches"] += 1
            out["input_rows"] += p.numInputRows or 0
            dur = p.durationMs or {}
            out["add_batch_ms"] += dur.get("addBatch", 0)
            out["wal_commit_ms"] += dur.get("walCommit", 0)
            out["commit_offsets_ms"] += dur.get("commitOffsets", 0)
            for op in p.stateOperators or []:
                out["state_commit_ms"] += op.commitTimeMs or 0
                out["state_rows"] += op.numRowsTotal or 0
                out["state_mem_bytes"] += op.memoryUsedBytes or 0
    return out
