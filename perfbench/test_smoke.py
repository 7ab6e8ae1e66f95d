"""Smoke test of the benchmark: every workload in a short mode at sf 0.001.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs untraced and traced for one second. The test asserts
that the last stdout line is the result object, that it carries exactly
the metrics ``BENCHMARK.json`` names with their units, and that no
operation failed or produced a wrong output (``error_rate`` 0). It also
asserts that the benchmark refuses to run, without printing a result, in
a directory that holds only the benchmark and not the engine.
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
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(cwd, workload, trace, *extra):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), *extra]
    cmd[0] = sys.executable if cmd[0].startswith("python") else cmd[0]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_prints_every_metric_with_no_error(workload, trace):
    out = _run(ROOT, workload, trace, "--sf", "0.001")
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert res["attempted"] >= 1
    assert res["failed"] == 0 and res["correct"], out.stderr[-4000:]
    if trace:
        assert res["metrics"]["error_rate"]["value"] == 0
        with open(os.path.join(ROOT, ".bench_trace", f"{workload}-1.json"),
                  encoding="utf-8") as f:
            spans = json.load(f)["spans"]
        assert any(s["counters"].get("jobs", 0) > 0 for s in spans)
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, WORKLOADS[0], 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
