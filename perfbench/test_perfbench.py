"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Unit tests of the span arithmetic and event-log attribution, plus one
tiny-size smoke run of every workload, untraced and traced, asserting
that every named metric is printed and that no operation failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402


class _NoSpark:
    def setJobGroup(self, *a):
        pass

    _jsc = SimpleNamespace(clearJobGroup=lambda: None)


def _span(tracer, name, start, end, parent=None, main=True):
    s = tracing.Span(len(tracer.spans), name, "", parent, main, start, end)
    tracer.spans.append(s)
    return s


def test_self_time_subtracts_the_union_of_overlapping_children():
    t = tracing.Tracer(_NoSpark())
    ep = _span(t, "epoch", 0.0, 10.0)
    _span(t, "a", 1.0, 4.0, ep.sid, main=False)
    _span(t, "b", 3.0, 5.0, ep.sid, main=False)  # overlaps a
    _span(t, "c", 9.0, 12.0, ep.sid)  # runs past the parent's end
    assert t.covered_by_children(ep) == pytest.approx(5.0)
    assert t.self_time(ep) + t.covered_by_children(ep) == pytest.approx(ep.duration)


def test_jobs_attributed_by_group_then_by_time_on_the_main_thread():
    t = tracing.Tracer(_NoSpark())
    ep = _span(t, "epoch", 100.0, 110.0)
    worker = _span(t, "stage", 101.0, 109.0, ep.sid, main=False)
    events = [
        # grouped job: belongs to its span
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 102_000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": f"{tracing.GROUP_PREFIX}{worker.sid}"}},
        # ungrouped job during the worker span: the enclosing main-thread span
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 103_000, "Stage IDs": [1, 0],
         "Properties": {}},
        # outside every span: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 200_000, "Stage IDs": [2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor CPU Time": 1_000_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor CPU Time": 5}},
    ]
    per = tracing.spark_counts_by_span(t, events)
    assert (per[worker.sid].jobs, per[worker.sid].tasks, per[worker.sid].cpu_s) == (1, 1, 2.0)
    assert (per[worker.sid].shuffle_bytes, per[worker.sid].spill_bytes) == (10, 3)
    assert (per[ep.sid].jobs, per[ep.sid].tasks, per[ep.sid].cpu_s) == (1, 1, 1.0)
    whole = tracing.tree_counts(t, per, ep)
    assert (whole.jobs, whole.tasks, whole.cpu_s) == (2, 2, 3.0)


def _bench(args, cwd):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run_prints_every_metric(workload, trace):
    p = _bench(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    *_, detail, last = p.stdout.strip().splitlines()
    result, detail = json.loads(last), json.loads(detail)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"], detail["problems"]
    assert detail["failed_share"] == 0
    if trace and workload in run.CRAWLS:
        acc = detail["span_accounting"]
        assert acc["max_abs_gap_s"] < 0.05  # self + children == the epoch's wall time


def test_fails_without_the_program(tmp_path):
    """Beside only BENCHMARK.json and perfbench/, there is nothing to
    benchmark: the run exits non-zero and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench(["--workload", run.WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"], str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
