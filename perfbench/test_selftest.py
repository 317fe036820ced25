"""Tiny-size self-test of the benchmark itself.

    python3 -m pytest perfbench/test_selftest.py -q

For each workload, at a small fraction of the benchmark's input sizes: an
untraced run emits every end-to-end metric of BENCHMARK.json with its unit
and passes every output check, and two traced runs emit every per-layer
metric with its unit, pass their checks and agree on every count.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402

SCALE = 0.05
SEED = 0


def _spec(kind: str) -> dict[str, str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _assert_emits(result: dict, kind: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 1
    units = {k: v["unit"] for k, v in result["metrics"].items()}
    assert units == _spec(kind)
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", ["ingest", "closure"])
def test_workload(workload):
    plain = run.run(workload, SEED, 1.0, trace=False, scale=SCALE)
    _assert_emits(plain, "end_to_end")
    assert all(v["value"] > 0 for v in plain["metrics"].values())

    first = run.run(workload, SEED, 1.0, trace=True, scale=SCALE)
    second = run.run(workload, SEED, 1.0, trace=True, scale=SCALE)
    for traced in (first, second):
        _assert_emits(traced, "per_layer")
    assert first["attempted"] == second["attempted"]
    counts = [name for name, unit in _spec("per_layer").items() if unit == "count"]
    assert {c: first["metrics"][c]["value"] for c in counts} == {
        c: second["metrics"][c]["value"] for c in counts
    }
