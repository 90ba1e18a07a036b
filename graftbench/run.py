"""Benchmark entry point.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the seed's inputs under
``.graftbench/``, runs the workload in a fresh process (its own JVM), and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The full run record, with every pass, goes to
``.graftbench/records/``. See graftbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from graftbench import inputs, tracer  # noqa: E402
from graftbench.workloads import WORKLOADS  # noqa: E402

PKG_DIR = os.path.join(ROOT, "mini_project_big_data_analysis_spark")
#: the whole run, set-up included, must end well inside this
RUN_TIMEOUT_S = 170
#: the metric names and units; the single table of them
SPEC = os.path.join(ROOT, "BENCHMARK.json")


class TreeSampler(threading.Thread):
    """Polls the resident memory of a process tree: keeps every sample, with
    its CLOCK_MONOTONIC time, and the split by process at the peak."""

    def __init__(self, root: int, period_s: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.root, self.period_s = root, period_s
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self.samples: list[tuple[float, int]] = []
        self.done = threading.Event()

    def peak_between(self, t0: float, t1: float) -> int:
        return max((b for t, b in self.samples if t0 <= t <= t1), default=0)

    def run(self) -> None:
        while not self.done.is_set():
            rss = tracer.tree_rss_bytes(self.root)
            self.samples.append((time.monotonic(), sum(rss.values())))
            if sum(rss.values()) > self.peak:
                self.peak, self.peak_by_name = sum(rss.values()), dict(rss)
            self.done.wait(self.period_s)


def group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except OSError:
                continue
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group, reap the worker
    and wait until the rest of the group has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    # a terminated run still stops its worker's process group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(PKG_DIR):
        print(f"engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".graftbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    data_dir = os.path.join(run_dir, "data")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    result_path = os.path.join(run_dir, "result.json")
    try:
        inputs.write(data_dir, args.seed)
        env = dict(os.environ)
        env.update(
            {
                "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
                "PYTHONPATH": os.pathsep.join(
                    p for p in (ROOT, env.get("PYTHONPATH")) if p
                ),
                # keep every file the engine writes inside the checkout
                "TMPDIR": tmp_dir,
                "SPARK_LOCAL_DIRS": tmp_dir,
                "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp_dir}",
            }
        )
        cmd = [
            sys.executable,
            "-m",
            "graftbench.worker",
            args.workload,
            data_dir,
            str(args.seconds),
            str(args.trace),
            result_path,
        ]
        env["GRAFTBENCH_T0"] = repr(time.monotonic())
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True)
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
            code = None
        finally:
            sampler.done.set()
            sampler.join()
            stop_group(proc)
        if code != 0:
            print(f"worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    rec["seed"] = args.seed
    for p in rec["passes"]:
        p["peak_rss_mb"] = sampler.peak_between(*p["monotonic"]) / 2**20
    rec["end_to_end"]["peak_rss_mb"] = statistics.median(
        p["peak_rss_mb"] for p in rec["passes"] if p["kind"] == "timed" and not p["traced"]
    )
    rec["run_peak_rss_mb"] = sampler.peak / 2**20
    rec["run_peak_rss_mb_by_process"] = {k: v / 2**20 for k, v in sampler.peak_by_name.items()}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(rec, f, indent=1)

    with open(SPEC) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    measured = rec["per_layer"] if args.trace else rec["end_to_end"]
    names = {m["name"] for m in spec}
    if set(measured) - names or (not args.trace and names - set(measured)):
        print(f"measured {sorted(measured)}, {SPEC} names {sorted(names)}", file=sys.stderr)
        return 1
    # a per-layer metric the run did not measure is a layer that did no work
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec
    }
    for f in rec["failures"]:
        print(f"# FAILED {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": rec["failed"] == 0,
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
