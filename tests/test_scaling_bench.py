"""tools/scaling_bench.py without Spark: a fake leg runner returns canned
perfbench/run.py output, so pairing, leg validity, order and the summary
statistics are checked in milliseconds."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "scaling_bench.py")
_spec = importlib.util.spec_from_file_location("scaling_bench", _PATH)
scaling_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling_bench)


def _out(items_per_s=None, correct=True, code=0, stdout=None):
    if stdout is None:
        result = {"correct": correct, "attempted": 2, "failed": 0,
                  "metrics": {"items_per_s": {"value": items_per_s, "unit": "1/s"}}}
        stdout = '{"workload": "crawl_wide"}\n' + json.dumps(result) + "\n"
    return subprocess.CompletedProcess([], code, stdout, "spark log tail")


def _fake(legs):
    """Runner serving legs[(cpus, seed)] and logging the call order."""
    calls = []

    def run(cpus, seed):
        calls.append((cpus, seed))
        return legs[(cpus, seed)]

    return run, calls


def _measure(legs, pairs):
    run, calls = _fake(legs)
    lines = []
    summary = scaling_bench.measure(pairs, run=run, emit=lines.append)
    return summary, calls, [json.loads(line) for line in lines]


def test_pair_efficiencies_median_and_iqr():
    tp = {1: (1000, 3200), 2: (1000, 3600), 3: (1000, 2800), 4: (1000, 4000), 5: (1000, 3000)}
    legs = {(c, k): _out(tp[k][c == 4]) for k in tp for c in (1, 4)}
    summary, _, lines = _measure(legs, 5)
    effs = [line["efficiency"] for line in lines if "efficiency" in line]
    assert effs == [0.8, 0.9, 0.7, 1.0, 0.75]
    assert summary["pairs"] == 5
    assert summary["median"] == 0.8
    assert summary["iqr"] == pytest.approx(0.9 - 0.75)
    assert summary["met"] is True
    assert summary["target"] == 0.8


def test_leg_order_alternates_and_pair_k_uses_seed_k():
    legs = {(c, k): _out(1000.0 * c) for k in (1, 2, 3, 4) for c in (1, 4)}
    _, calls, lines = _measure(legs, 4)
    assert calls == [(1, 1), (4, 1), (4, 2), (1, 2), (1, 3), (4, 3), (4, 4), (1, 4)]
    firsts = [(line["seed"], line["first"]) for line in lines if "efficiency" in line]
    assert firsts == [(1, "1-core"), (2, "4-core"), (3, "1-core"), (4, "4-core")]


@pytest.mark.parametrize(
    "bad,why",
    [
        (_out(5000.0, code=1), "leg exited 1"),
        (_out(5000.0, correct=False), "leg output not correct"),
        (_out(stdout="Traceback (most recent call last):\n"), "no result JSON line"),
        (_out(stdout=""), "no result JSON line"),
    ],
)
def test_failed_leg_is_reported_and_left_out(bad, why):
    legs = {(1, 1): _out(1000.0), (4, 1): bad, (1, 2): _out(1000.0), (4, 2): _out(3000.0)}
    summary, calls, lines = _measure(legs, 2)
    assert len(calls) == 4  # the run goes on past the failed leg
    errors = [line for line in lines if "error" in line]
    assert errors == [{"pair": 1, "cpus": 4, "error": why, "stderr_tail": "spark log tail"}]
    assert summary["pairs"] == 1
    assert summary["median"] == 0.75 and summary["iqr"] == 0
    assert summary["met"] is False


def test_no_complete_pair_gives_no_statistics():
    legs = {(1, 1): _out(1000.0), (4, 1): _out(correct=False, items_per_s=1.0)}
    summary, _, _ = _measure(legs, 1)
    assert summary["pairs"] == 0
    assert "median" not in summary
