"""Self-test of the benchmark: ``python3 -m pytest perfbench/test_selftest.py``.

Each workload runs at the benchmark's own scale with ``--seconds 1``, untraced
and traced. The test checks that every metric named in BENCHMARK.json is printed
with its unit and a sample count, and that every per-layer metric a workload
measures was measured (at least one sample, and a positive value where the
metric cannot be 0); that a deliberately wrong expected result is counted as a
failed op; and that the benchmark refuses to run without the engine next to
it. Takes about five minutes: every run starts its own JVM.
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
sys.path.insert(0, ROOT)

from perfbench.workloads import (  # noqa: E402
    LAYERS_NOT_POSITIVE, WORKLOAD_LAYERS, Run, finish,
)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable if c == "python3" else c for c in cmd],
                          cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


def _result(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed(workload: str, trace: int) -> None:
    detail, result = _result(_run(workload, trace))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    specs = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        printed = result["metrics"][m["name"]]
        assert printed["unit"] == m["unit"]
        assert isinstance(printed["value"], float)
        assert detail[m["name"]]["unit"] == m["unit"]
        if not trace:
            assert detail[m["name"]]["n"] >= 1, m["name"]
            assert printed["value"] > 0, m["name"]
    if trace:
        for name in WORKLOAD_LAYERS[workload]:
            assert detail[name]["n"] >= 1, name
            if name not in LAYERS_NOT_POSITIVE:
                assert result["metrics"][name]["value"] > 0, name
        for name in set(result["metrics"]) - set(WORKLOAD_LAYERS[workload]):
            assert detail[name]["n"] == 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_unmeasured_layer_is_not_correct(workload: str) -> None:
    run = Run(workload=workload, seed=0, seconds=1, traced=True, corrupt_oracle=False,
              root=ROOT, work="", run_dir="")
    run.attempted = 1
    for name in WORKLOAD_LAYERS[workload]:
        run.put(name, 1.0, 1)
    assert finish(run)["result"]["correct"] is True
    del run.layer_n[WORKLOAD_LAYERS[workload][-1]]
    assert finish(run)["result"]["correct"] is False


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_result_is_a_failed_op(workload: str) -> None:
    _, result = _result(_run(workload, 0, "--corrupt-oracle"))
    assert result["failed"] >= 1
    assert result["correct"] is False


def test_refuses_to_run_without_the_engine() -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = _run(WORKLOADS[0], 0, cwd=bare)
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
