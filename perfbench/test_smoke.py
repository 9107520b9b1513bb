"""Smoke test of the benchmark at tiny sizes (a few minutes: six short runs).

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is emitted with its unit,
in both the untraced and the traced run; that a different seed changes
the inputs but not the metric names; and that the command refuses to run
without the program's sources.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import fixtures as fx  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_inputs_follow_the_seed():
    def inputs(seed):
        rng = np.random.default_rng([seed, 1])
        logs = fx.signal_logs(rng, 50)
        traces, ids = fx.signal_traces(rng, 5)
        payload = fx.otlp_logs_json(rng, "m", 8, fx.EPOCH_NS)
        tables = fx.analytics_tables(np.random.default_rng([seed, 5]), 0.0005)
        return logs, traces, ids, payload, tables["lineitem"]

    a, b, c = inputs(1), inputs(1), inputs(2)
    for x, y, z in zip(a, b, c):
        assert x == y
        assert x != z


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted_with_its_unit(workload):
    want = {
        0: {m["name"]: m["unit"] for m in SPEC["end_to_end"]},
        1: {m["name"]: m["unit"] for m in SPEC["per_layer"]},
    }
    for trace, seeds in ((0, (1, 2)), (1, (1,))):
        names = set()
        for seed in seeds:
            out = _result(_run(workload, seed, trace))
            assert set(out) == {"correct", "attempted", "failed", "metrics"}
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want[trace]
            assert all(isinstance(v["value"], float) for v in out["metrics"].values())
            names.add(tuple(sorted(got)))
        assert len(names) == 1  # another seed, the same metric names


def test_refuses_to_run_without_the_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = _run(WORKLOADS[0], 1, 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
