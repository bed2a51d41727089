"""Smoke tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each CLI test starts its own Spark, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from corpus import Corpus, digest  # noqa: E402
from workloads import SHAPES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    CONTRACT = json.load(fh)


def run_cli(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, m in got.items():
        assert m["unit"] == want[name], name
        assert isinstance(m["value"], (int, float)), name


def test_same_seed_same_corpus(tmp_path):
    shape = SHAPES["tiny"]["lookup"]
    digests = []
    for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
        Corpus(seed, shape).write(str(tmp_path / sub))
        digests.append(digest(str(tmp_path / sub)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


@pytest.mark.parametrize("workload", ["lookup", "plan_scale"])
def test_injected_wrong_answer_is_a_failure(workload):
    result = run_cli(workload, 0, "--inject-wrong")
    check_metrics(result, CONTRACT["end_to_end"])
    assert result["failed"] == 1
    assert result["correct"] is False


@pytest.mark.parametrize("workload", ["lookup", "plan_scale"])
def test_per_layer_metrics_printed(workload):
    result = run_cli(workload, 1)
    check_metrics(result, CONTRACT["per_layer"])
    assert result["failed"] == 0 and result["correct"] is True
