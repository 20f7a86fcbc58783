"""Smoke test of the benchmark at a tiny size (about five minutes on a 4-core host).

    python3 -m pytest perfbench/test_smoke.py -q

For each workload, an untraced and a traced run must each print, as the
last line, a result whose metrics are exactly the ``end_to_end`` or the
``per_layer`` metrics of BENCHMARK.json, each with its declared unit;
every operation must pass its correctness check; and the traced run's
span file must parse with every span's parent present.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import check_tree  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--rows", "3000"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_declared_metric_is_emitted(workload: str, trace: int):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == set(declared)
    for name, v in result["metrics"].items():
        assert v["unit"] == declared[name], name
        assert isinstance(v["value"], float) and math.isfinite(v["value"]), name
    if trace:
        with open(os.path.join(ROOT, ".bench_work", "traces", f"{workload}-seed7.json")) as f:
            doc = json.load(f)
        assert doc["spans"]
        check_tree(doc["spans"])
