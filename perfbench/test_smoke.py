"""Smoke test of the benchmark: both workloads at the ``--small`` size
for a few seconds, untraced and traced.  Each run must print every
metric that ``BENCHMARK.json`` names, with its unit, and pass its
correctness check.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes (four Spark sessions); it is not part of the
repository's tier-1 suite under ``tests/``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "3", "--trace", str(trace), "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_and_correct(workload: str, trace: int) -> None:
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    named = BENCHMARK["per_layer"] if trace else BENCHMARK["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
