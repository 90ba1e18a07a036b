"""One benchmark run inside a fresh process: set up the engine, run the
workload's passes, check every op against its DuckDB oracle, and write the
run record. ``run.py`` starts this process and reports its result.

    python3 -m graftbench.worker WORKLOAD DATA_DIR SECONDS TRACE RESULT_JSON

The environment variable GRAFTBENCH_T0 carries the CLOCK_MONOTONIC reading
taken just before this process was started, so setup time includes the
interpreter start.
"""

from __future__ import annotations

import gc
import importlib.util
import json
import math
import os
import statistics
import sys
import time
import warnings
from collections import defaultdict

from graftbench import tracer
from graftbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
#: before each pass (outside the clock) wait until the JIT compiler has
#: finished nothing for JIT_IDLE_MS, at most JIT_WAIT_MAX_S: the backlog the
#: previous pass queued then competes with no timed pass for the cores
JIT_IDLE_MS = 200
JIT_WAIT_MAX_S = 3.0
#: relative float tolerance of the oracle check: tests/oracle.py's knife-edge
#: fallback, which passes a 6-decimal rounding flip and nothing coarser
ORACLE_EPS = 1e-6
#: op_tail_ratio's percentile leaves at least this many samples beyond it
TAIL_BEYOND = 10


def load_oracle():
    spec = importlib.util.spec_from_file_location(
        "graftbench_oracle", os.path.join(ROOT, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Result:
    """Rows an op delivered, shaped like the DataFrame the oracle compares."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns, self.rows = columns, rows

    def collect(self) -> list:
        return self.rows


class Run:
    def __init__(self, workload: str, data_dir: str, trace: bool) -> None:
        self.wl = WORKLOADS[workload]
        self.data_dir = data_dir
        self.trace = trace
        self.spans = tracer.Spans()
        self.layer: dict[str, float] = defaultdict(float)
        self.failures: list[str] = []
        self.attempted = 0
        self.passes: list[dict] = []
        self.results: dict[str, Result] = {}
        self.seen_workers: set[int] = set()
        self.fallbacks = 0

    # ---------------------------------------------------------- set-up

    def setup(self, t0: float) -> float:
        from mini_project_big_data_analysis_spark import session

        if self.trace:
            self.spans.install({"session": ("session",)})
        try:
            spark = session.get_spark(app_name="graftbench")
        finally:
            self.spans.restore()
        spark.sparkContext.setLogLevel("ERROR")
        from mini_project_big_data_analysis_spark.queries import all_queries
        from mini_project_big_data_analysis_spark.sources.readers import read_table

        for t in TABLES:
            read_table(spark, self.data_dir, t).createOrReplaceTempView(t)
        self.spark = spark
        self.registry = all_queries()
        self.jvm = tracer.Jvm(spark)
        self.master = spark.sparkContext.master
        return time.monotonic() - t0

    # ----------------------------------------------------------- passes

    def run_pass(self, kind: str, traced: bool) -> dict:
        gc.collect()
        self.jvm.full_gc()
        jit_wait_s = self.jvm.wait_jit_idle(JIT_IDLE_MS, JIT_WAIT_MAX_S)
        rt0 = self.jvm.runtime()
        if traced:
            self.spans.install()
            from mini_project_big_data_analysis_spark.streaming import pipeline

            pipeline.PROGRESS_SINK = []
        ops: dict[str, float] = {}
        cpu_pass = tracer.tree_cpu_ms(os.getpid())
        t_pass, mono0 = time.perf_counter(), time.monotonic()
        try:
            for qid in self.wl.ids:
                lat = self.run_op(qid, traced, deliver=kind == "cold")
                if lat is not None:
                    ops[qid] = lat
        finally:
            wall = time.perf_counter() - t_pass
            cpu = (tracer.tree_cpu_ms(os.getpid()) - cpu_pass) / 1e3
            if traced:
                self.spans.restore()
                prog = tracer.stream_progress(pipeline.PROGRESS_SINK)
                pipeline.PROGRESS_SINK = None
                for k, v in prog.items():
                    self.layer[f"streaming.{k}"] += v
        rt1 = self.jvm.runtime()
        rec = {
            "kind": kind,
            "traced": traced,
            "wall_s": wall,
            "monotonic": [mono0, time.monotonic()],
            "cpu_s": cpu,
            "ops_s": sum(ops.values()),
            "jit_ms": rt1["jit_ms"] - rt0["jit_ms"],
            "jit_wait_s": jit_wait_s,
            "gc_ms": rt1["gc_ms"] - rt0["gc_ms"],
            "gc_count": rt1["gc_count"] - rt0["gc_count"],
            "heap_committed_mb": rt1["heap_committed_mb"],
            "ops": ops,
        }
        if traced:
            for k in ("gc_ms", "gc_count", "jit_ms"):
                self.layer[f"jvm.{k}"] += rec[k]
            self.layer["jvm.heap_committed_mb"] = max(
                self.layer["jvm.heap_committed_mb"], rec["heap_committed_mb"]
            )
        self.passes.append(rec)
        print(
            f"# {kind:<6} traced={int(traced)} {wall:7.3f}s cpu={cpu:7.3f}s jit={rec['jit_ms']:.0f}ms "
            f"gc={rec['gc_ms']:.0f}ms",
            file=sys.stderr,
        )
        return rec

    def run_op(self, qid: str, traced: bool, deliver: bool) -> float | None:
        """Build and execute one op; returns its latency in seconds, or None
        if it raised. A delivered op collects its rows (kept for the oracle
        check) instead of writing them to the noop sink."""
        fn = self.registry[qid].fn
        self.attempted += 1
        sc = self.spark.sparkContext
        if traced:
            group = f"graftbench-{self.attempted}"
            before = self.probe_before()
            sc.setJobGroup(group, qid)
        caught: list = []
        try:
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always", RuntimeWarning)
                t0 = time.perf_counter()
                if traced:
                    self.spans.enter("build")
                    try:
                        df = fn(self.spark, self.data_dir)
                    finally:
                        self.layer["build.ms"] += self.spans.exit()
                    t_build = time.perf_counter()
                    build_jobs = self.jvm.group_jobs(group)
                    t_exec = time.perf_counter()
                    df.write.mode("overwrite").format("noop").save()
                    t1 = time.perf_counter()
                    lat = (t_build - t0) + (t1 - t_exec)
                elif deliver:
                    df = fn(self.spark, self.data_dir)
                    rows = df.collect()
                    lat = time.perf_counter() - t0
                    self.results[qid] = Result(df.columns, rows)
                else:
                    df = fn(self.spark, self.data_dir)
                    df.write.mode("overwrite").format("noop").save()
                    lat = time.perf_counter() - t0
        except Exception as exc:  # one failing op must not void the run
            self.failures.append(f"{qid}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        finally:
            self.fallbacks += sum("falling back" in str(w.message) for w in caught)
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if traced:
            self.probe_after(df, group, build_jobs, (t1 - t_exec) * 1e3, before)
        return lat

    def probe_before(self) -> dict:
        return {
            "py": tracer.python_workers(os.getpid()),
            "wb": tracer.tree_write_bytes(os.getppid()),
        }

    def probe_after(self, df, group: str, build_jobs, exec_ms: float, before: dict) -> None:
        L = self.layer
        jobs = self.jvm.group_jobs(group)
        L["build.jobs"] += len(build_jobs)
        L["exec.ms"] += exec_ms
        L["exec.jobs"] += len(set(jobs) - set(build_jobs))
        for k, v in self.jvm.stage_metrics(jobs).items():
            L[f"exec.{k}"] += v
        for k, v in self.jvm.plan_phases(df).items():
            L[f"plan.{k}_ms"] += v
        py = tracer.python_workers(os.getpid())
        L["python.worker_cpu_ms"] += sum(
            cpu - before["py"].get(pid, 0.0) for pid, cpu in py.items()
        )
        L["python.workers_started"] += len(set(py) - self.seen_workers)
        self.seen_workers |= set(py)
        L["io.write_bytes"] += tracer.tree_write_bytes(os.getppid()) - before["wb"]

    # ------------------------------------------------------------ checks

    def check(self) -> int:
        """Oracle-check the rows the cold pass delivered; returns the number
        of ops that passed only within ``ORACLE_EPS`` (knife edges)."""
        oracle = load_oracle()
        con = oracle.duck_connection(self.data_dir)
        knife = 0
        try:
            for qid in self.wl.ids:
                res = self.results.get(qid)
                if res is None:
                    continue  # its failure is already recorded
                error, edge = check_op(oracle, con, res, self.registry[qid].oracle)
                if error:
                    self.failures.append(f"{qid}: {error}")
                knife += edge
        finally:
            con.close()
        return knife

    # ----------------------------------------------------------- summary

    def per_layer(self, traced_passes: int, per_run: dict) -> dict:
        """Per-layer metrics: layer work per traced pass, plus the per-run
        values in ``per_run``."""
        n = max(1, traced_passes)
        L = {k: v / n for k, v in self.layer.items()}
        L["session.start_ms"] = self.spans.ms["session"]
        L["sources.read_calls"] = self.spans.calls["sources"] / n
        L["sources.read_ms"] = self.spans.ms["sources"] / n
        L["operators.calls"] = sum(self.spans.calls[k] for k in tracer.OPERATOR_LAYERS) / n
        for k in tracer.OPERATOR_LAYERS:
            L[f"operators.{k}.ms"] = self.spans.ms[k] / n
        L["sinks.calls"] = self.spans.calls["sinks"] / n
        L["sinks.ms"] = self.spans.ms["sinks"] / n
        L["streaming.tws_fallbacks"] = self.fallbacks
        L.update(per_run)
        return {k: float(v) for k, v in L.items()}


def check_op(oracle, con, res: Result, sql: str) -> tuple[str | None, bool]:
    """Compare an op's rows with its DuckDB oracle. Returns (the reason the op
    fails, or None; whether it passed only within ``ORACLE_EPS``)."""
    ok, msg = oracle.compare(res, con, sql, eps=ORACLE_EPS)
    if not ok:
        return f"oracle mismatch: {msg[:300]}", False
    if not res.rows:
        return "vacuous, the result is empty", False
    return None, msg.startswith("ok within eps")


def per_id_medians(passes: list[dict], ids, key: str) -> dict[str, float]:
    """Each id's median over ``passes`` of ``pass[key][id]``."""
    return {
        qid: statistics.median(p[key][qid] for p in passes if qid in p[key])
        for qid in ids
        if any(qid in p[key] for p in passes)
    }


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(max(v, 1e-3)) for v in values))


def tail_ratio(passes: list[dict], ids) -> tuple[float, float, int]:
    """Timed op latency over its id's median, at the highest percentile that
    has at least TAIL_BEYOND samples beyond it; a run with no more samples
    than that gives its largest ratio. Returns (ratio, percentile, samples)."""
    ratios = []
    for qid in ids:
        xs = [p["ops"][qid] for p in passes if qid in p["ops"]]
        if xs:
            med = statistics.median(xs)
            ratios.extend(x / med for x in xs)
    ratios.sort(reverse=True)
    k = TAIL_BEYOND if len(ratios) > TAIL_BEYOND else 0
    return ratios[k], 100.0 * (len(ratios) - k) / len(ratios), len(ratios)


def main() -> int:
    workload, data_dir, seconds, trace, out = sys.argv[1:6]
    t0 = float(os.environ["GRAFTBENCH_T0"])
    seconds, trace = float(seconds), trace == "1"
    run = Run(workload, data_dir, trace)
    setup_s = run.setup(t0)

    first = run.run_pass("cold", False)
    for _ in range(run.wl.warm):
        run.run_pass("warm", False)

    busy0, steal0 = tracer.host_cpu()
    tree0 = tracer.tree_cpu_ms(os.getppid())
    t_window = time.perf_counter()
    timed: list[dict] = []
    # a traced run alternates traced and untraced passes, from at least three
    while len(timed) < max(run.wl.timed, 3 * trace) or time.perf_counter() - t_window < seconds:
        traced = trace and len(timed) % 2 == 0
        timed.append(run.run_pass("timed", traced))
    busy1, steal1 = tracer.host_cpu()
    tree1 = tracer.tree_cpu_ms(os.getppid())
    host = {
        "steal_ms": steal1 - steal0,
        "other_cpu_ms": max(0.0, (busy1 - busy0) - (tree1 - tree0)),
        "window_s": time.perf_counter() - t_window,
    }

    t_check = time.perf_counter()
    knife = run.check()
    check_s = time.perf_counter() - t_check
    gateway = run.spark.sparkContext._gateway
    run.spark.stop()
    # End the JVM and reap it here, so that run.py finds the process group
    # empty: the gateway JVM exits when its stdin closes.
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait()

    plain = [p for p in timed if not p["traced"]]
    traced_p = [p for p in timed if p["traced"]]
    medians = per_id_medians(plain, run.wl.ids, "ops")
    tail, tail_pct, tail_n = tail_ratio(plain, run.wl.ids)
    overhead = {"ratio": 1.0, "traced_pass_s": None, "untraced_pass_s": None}
    if traced_p and plain:
        tr = statistics.fmean(p["ops_s"] for p in traced_p)
        un = statistics.fmean(p["ops_s"] for p in plain)
        overhead = {"ratio": tr / un, "traced_pass_s": tr, "untraced_pass_s": un}
    end_to_end = {
        "setup_s": setup_s,
        "first_pass_s": first["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in plain),
        "op_geomean_ms": 1e3 * geomean(medians.values()),
        "op_tail_ratio": tail,
    }
    per_run = {
        "host.steal_ms": host["steal_ms"],
        "host.other_cpu_ms": host["other_cpu_ms"],
        "check.knife_edge_ops": knife,
        "trace.overhead_ratio": overhead["ratio"],
    }
    per_layer = run.per_layer(len(traced_p), per_run) if trace else {}
    record = {
        "workload": workload,
        "trace": trace,
        "ids": list(run.wl.ids),
        "attempted": run.attempted,
        "failed": len(run.failures),
        "failures": run.failures,
        "end_to_end": end_to_end,
        "op_tail": {"percentile": tail_pct, "samples": tail_n},
        "op_median_s": medians,
        "per_layer": per_layer,
        "trace_overhead": overhead,
        "host": host,
        "tws_fallbacks": run.fallbacks,
        "knife_edge_ops": knife,
        "check_s": check_s,
        "passes": run.passes,
        "master": run.master,
    }
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
