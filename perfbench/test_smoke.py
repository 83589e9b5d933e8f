"""Smoke tests of the benchmark itself, at tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

The end-to-end cases start Spark once per workload and trace mode
(about half a minute each).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from efficient_llm_data_wrangling_spark.plans.golden import GOLDEN_BY_TASK
from efficient_llm_data_wrangling_spark.plans.prompts import formulate_prompt, retry_message
from perfbench.llm import ScriptedClient, identity_source

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCHMARK = json.load(fh)


def _requests():
    """Every task type's first turn and one- and two-retry follow-ups."""
    out = []
    for task in GOLDEN_BY_TASK:
        first = formulate_prompt(task, None, [("in", "out")])
        retry1 = [*first, retry_message("not_accurate")]
        out += [(task, first), (task, retry1), (task, [*retry1, retry_message("not_executable")])]
    return out


def test_client_replies_identity_then_golden():
    client = ScriptedClient(delay_s=0.0)
    for task, messages in _requests():
        expected = identity_source(task) if len(messages) == 2 else GOLDEN_BY_TASK[task]
        assert client.complete(messages) == expected


def test_client_is_request_pure():
    """The reply depends on the request only: shuffled, concurrent
    calls get the replies a fresh client gives one request at a time."""
    requests = _requests() * 4
    expected = [ScriptedClient(delay_s=0.0).complete(m) for _, m in requests]
    order = list(range(len(requests)))
    random.Random(0).shuffle(order)
    client = ScriptedClient(delay_s=0.001)
    with ThreadPoolExecutor(max_workers=8) as pool:
        got = dict(zip(order, pool.map(lambda i: client.complete(requests[i][1]), order)))
    assert [got[i] for i in range(len(requests))] == expected
    assert client.calls == len(requests)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [*BENCHMARK["command"], "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(
        [*cmd, "--scale", "0.01"], cwd=cwd, capture_output=True, text=True, timeout=600, check=False
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_every_metric_prints_with_its_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())


def test_fails_without_the_library(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCHMARK["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path, ignore=shutil.ignore_patterns("__pycache__", "out")
        )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [*BENCHMARK["command"], "--workload", BENCHMARK["workloads"][0]["name"], "--seed", "1"]
    proc = subprocess.run(
        [*cmd, "--seconds", "1", "--trace", "0"], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=180, check=False,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
    assert not os.path.exists(tmp_path / ".perfbench_runs")


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
