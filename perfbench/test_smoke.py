"""Smoke tests of the benchmark itself, at tiny input sizes.

Run from the repository root with ``python3 -m pytest perfbench -q``. Each
case runs ``run.py`` in a fresh process with the workload's size constants
patched down, then checks the result line against ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: module constants patched in the child process to keep each run small
TINY = {
    "stream_mor": {"workloads.STREAM_CONVS": 100, "workloads.STREAM_EVENTS_PER_FILE": 200},
    "analytics": {"tables.N_ORDERS": 1_500, "tables.N_LINEITEM": 6_000,
                  "tables.N_EVENTS": 1_000, "tables.N_DOCUMENTS": 100},
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> tuple[subprocess.CompletedProcess, dict]:
    patch = "; ".join(f"{k} = {v!r}" for k, v in TINY[workload].items())
    code = (
        f"import sys; sys.path[:0] = [{HERE!r}, {ROOT!r}]; import tables, workloads; {patch}; "
        f"import run; sys.exit(run.main(['--workload', {workload!r}, '--seed', '7', "
        f"'--seconds', '0', '--trace', '{trace}']))"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc, json.loads(lines[-1]) if lines else {}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_metric_emitted_and_gates_pass(workload: str, trace: int):
    proc, result = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    host = json.loads(next(ln for ln in proc.stdout.splitlines()
                           if ln.startswith("# host "))[len("# host "):])
    for side in ("before", "after"):
        assert set(host[side]) == {"nproc", "loadavg", "mem_available_mb"}
    if trace and workload == "stream_mor":
        m = {k: v["value"] for k, v in result["metrics"].items()}
        # every micro-batch's merge ran inside its apply span, and the
        # merge self time plus the wait on the reduce is the apply wall
        assert m["cdc.apply.calls"] == m["lakehouse.table.merge_cdc.calls"] > 0
        assert m["lakehouse.table.merge_cdc.self_s"] > 0
        assert m["cdc.apply.reduce_wait_s"] >= 0
        assert m["cdc.apply.reduce_wait_s"] + m["lakehouse.table.merge_cdc.self_s"] \
            == pytest.approx(m["cdc.apply.wall_s"], rel=0.01)
        assert m["lakehouse.maintain.refresh.calls"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_mor", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
