"""Checks on the benchmark's inputs and ops.

    python3 -m pytest graftbench/test_benchmark.py -q

The first test compares the generated tables with the repository's sf0.1
test fixture (skipped where the fixture is absent). The oracle-check test
pins the float tolerance. The last runs each workload once at two seeds:
every op must run, return rows and pass its DuckDB oracle. It starts a JVM
per run, so it takes minutes.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

from graftbench import inputs
from graftbench.worker import Result, check_op, load_oracle
from graftbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fixture_dir() -> str:
    spec = importlib.util.spec_from_file_location(
        "graftbench_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return os.path.join(mod.SF_BASE, "sf0.1")


def test_generated_tables_match_fixture(tmp_path):
    fixture = _fixture_dir()
    if not os.path.isdir(fixture):
        pytest.skip(f"sf0.1 fixture not present at {fixture}")
    inputs.write(str(tmp_path), seed=7)
    for name, rows in inputs.ROWS.items():
        want = pq.ParquetFile(os.path.join(fixture, f"{name}.parquet"))
        got = pq.ParquetFile(os.path.join(tmp_path, f"{name}.parquet"))
        assert got.schema_arrow.equals(want.schema_arrow), name
        assert got.schema.equals(want.schema), name  # parquet logical types
        assert got.metadata.num_rows == want.metadata.num_rows == rows, name


def test_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    inputs.write(str(a), seed=3)
    inputs.write(str(b), seed=3)
    for name in inputs.ROWS:
        assert (a / f"{name}.parquet").read_bytes() == (b / f"{name}.parquet").read_bytes()


def test_oracle_check_passes_only_a_rounding_flip():
    oracle, con = load_oracle(), duckdb.connect()

    def check(rows, sql):
        return check_op(oracle, con, Result(["x"], rows), sql)

    assert check([(0.25,)], "SELECT 0.25::DOUBLE AS x") == (None, False)
    # a 6-decimal round-half tie the two engines break differently
    assert check([(0.123457,)], "SELECT 0.123456::DOUBLE AS x") == (None, True)
    assert check([(48.123457,)], "SELECT 48.123456::DOUBLE AS x") == (None, True)
    # anything coarser is a mismatch, whatever the values print as
    assert check([(0.5,)], "SELECT 0.6::DOUBLE AS x")[0].startswith("oracle mismatch")
    assert check([(1234.5,)], "SELECT 1234.6::DOUBLE AS x")[0].startswith("oracle mismatch")
    assert check([(25.5001,)], "SELECT 25.5::DOUBLE AS x")[0].startswith("oracle mismatch")
    assert check([], "SELECT 0.25::DOUBLE AS x WHERE false")[0].startswith("vacuous")


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_op_nonempty_and_oracle_green(workload, seed, tmp_path):
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "graftbench", "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", "1",
            "--trace", "0",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    failures = [l for l in proc.stderr.splitlines() if l.startswith("# FAILED")]
    assert result["correct"] and result["failed"] == 0, failures
    wl = WORKLOADS[workload]
    assert result["attempted"] >= (1 + wl.warm + wl.timed) * len(wl.ids)
