"""Smoke test of the benchmark: every workload at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Run from the root of a source checkout.  Each case starts its own Spark
session, so the whole file takes a few minutes.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
sys.path.insert(0, HERE)
from workloads import WORKLOADS as WORKLOAD_DEFS  # noqa: E402

WORKLOAD_OPS = {name: WORKLOAD_DEFS[name].ops for name in WORKLOADS}


def bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "60",
         "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(workload: str, trace: int) -> dict:
    out = bench(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    res = result(workload, 0)
    # failed_op_frac = failed / attempted must read 0
    assert res["attempted"] > 0 and res["failed"] == 0 and res["correct"]
    units = {k: v["unit"] for k, v in res["metrics"].items()}
    assert units == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics(workload):
    res = result(workload, 1)
    assert res["failed"] == 0
    units = {k: v["unit"] for k, v in res["metrics"].items()}
    assert units == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.warm_pass_cpu_s"] > 0
    for op in WORKLOAD_OPS[workload]:
        assert m[f"op.{op}.run_s"] > 0, op
    if workload == "spatial":
        # the triangle overlay refines in Python workers; the rect ops
        # run in the JVM only, so their Python counters must read 0
        tri = "op.intersections_triangles_shuffle"
        assert m[f"{tri}.py_init_s"] > 0
        assert m[f"{tri}.py_run_s"] > 0
        assert m[f"{tri}.arrow_bytes"] > 0
        for op in ("assign_points", "aggregate_rects", "normalize_lineitem"):
            for k in ("py_init_s", "py_run_s", "arrow_bytes"):
                assert m[f"op.{op}.{k}"] == 0, (op, k)
    if workload == "text":
        # dsir_select_docs and novelty_docs leave cached relations behind
        assert m["cache.leaked_entries"] >= 1
        assert m["py.run_s"] == 0
        assert m["pipeline.resume_s"] > 0


def test_fails_without_the_program(tmp_path):
    """Given only BENCHMARK.json and perfbench/, the run must fail
    without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = bench(str(tmp_path), WORKLOADS[0], 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
