"""Self-test of the benchmark: a small generated-scale run of every
workload, traced and untraced, must print every metric BENCHMARK.json
names with its unit and fail no operation; and a directory holding only
the benchmark must make it fail without printing a result.

    python3 -m pytest perfbench -q        # about three minutes
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())

sys.path[:0] = [str(BENCH_DIR), str(ROOT)]

import inputs  # noqa: E402
from tracing import Tracer  # noqa: E402


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *BENCH["command"][1:], *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_run_prints_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--sf", "0.002")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1
    assert result["failed"] / result["attempted"] == 0  # fail_ratio
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_bare_benchmark_directory_fails_without_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(tmp_path, "--workload", "crm_analytics", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def test_self_time_subtracts_children():
    tr = Tracer("t")
    with tr.span("outer") as outer:
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    kids = tr.children(outer["id"])
    assert [k["name"] for k in kids] == ["a", "b"]
    assert tr.self_time(outer) == pytest.approx(outer["dur_s"] - sum(k["dur_s"] for k in kids))
    assert all(k["parent"] == outer["id"] and k["run_id"] == "t" for k in kids)


def test_oracle_cache_is_keyed_by_sql_and_keeps_no_errors(tmp_path):
    for t in inputs.TABLES:
        pq.write_table(pa.table({"x": [1, 2]}), tmp_path / f"{t}.parquet")
    ops = {"ok": "SELECT x FROM orders", "bad": "SELECT no_such_column FROM orders"}
    digests, unverified = inputs.oracle_digests(str(tmp_path), ops)
    assert set(digests) == {"ok"} and set(unverified) == {"bad"}
    assert set(json.loads((tmp_path / "_oracle.json").read_text())) == {"ok"}
    changed, _ = inputs.oracle_digests(str(tmp_path), {"ok": "SELECT x + 1 AS x FROM orders"})
    assert changed["ok"] != digests["ok"]
