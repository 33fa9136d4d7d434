"""Smoke test of the benchmark: every workload once on the small inputs.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider   # from the repository root

Each workload runs in ``--quick`` mode, untraced and traced. The test checks
that the last stdout line is the result object, that every end-to-end (or
per-layer) metric of BENCHMARK.json is in it and printed by name with its
unit, and that a deliberately wrong oracle digest is counted as a failure.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--quick", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_quick_run_prints_every_metric(workload, trace):
    result, stdout = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        line = rf"^metric {re.escape(m['name'])} -?[0-9.e+-]+ {re.escape(m['unit'])}$"
        assert re.search(line, stdout, re.M), m["name"]
    assert "metric failed_ratio 0.000000 ratio" in stdout


def test_wrong_digest_counts_as_failure():
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from oracle import fingerprint

    import run

    workload = run.WORKLOADS[WORKLOADS[0]]
    key = f"{run.QUICK_DATA}-{fingerprint(os.path.join(run.HERE, 'data', run.QUICK_DATA))}"
    wrong = {key: {q: {"rows": 0, "sha256": "0" * 64} for q in workload.queries[:1]}}
    path = os.path.join(ROOT, ".bench_work", "wrong-digests.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(wrong, f)
    result, stdout = bench(WORKLOADS[0], 0, "--digests", path)
    os.remove(path)
    assert result["failed"] == 1 and result["correct"] is False
    assert f"metric failed_ratio {1 / result['attempted']:.6f} ratio" in stdout
    assert f"check {workload.queries[0]}:" in stdout
