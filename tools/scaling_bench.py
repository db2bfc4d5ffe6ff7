"""Throughput scaling efficiency of the crawl engine from N to 4N cores.

Each pair runs the benchmark's `crawl_wide` workload (perfbench/run.py)
twice on the same seed: pinned to one core and pinned to four distinct
cores. run.py sizes Spark from its CPU affinity, so the pin alone sets
local[1] vs local[4]. A leg counts only if it exits 0 and its output
passed the crawl oracle ("correct": true); a failed leg is reported with
its stderr tail and the run goes on. Pair k uses seed k, and the leg
order alternates (1-core first on odd pairs). Prints one JSON line per
leg and per pair, then the median and IQR of the pair efficiencies
tp4 / tp1 / 4 against the 0.8 target.

    python tools/scaling_bench.py [pairs]      # default 5 pairs
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = {1: "0", 4: "0-3"}
TARGET = 0.8


def run_leg(cpus: int, seed: int) -> subprocess.CompletedProcess:
    cmd = ["taskset", "-c", CORES[cpus], sys.executable, "perfbench/run.py",
           "--workload", "crawl_wide", "--seed", str(seed), "--seconds", "10", "--trace", "0"]
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)


def leg_throughput(out: subprocess.CompletedProcess) -> float:
    """items_per_s of a correct leg; ValueError naming why it does not count."""
    if out.returncode != 0:
        raise ValueError(f"leg exited {out.returncode}")
    try:
        res = json.loads(out.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        raise ValueError("no result JSON line") from None
    if res.get("correct") is not True:
        raise ValueError("leg output not correct")
    return float(res["metrics"]["items_per_s"]["value"])


def measure(pairs: int, run=run_leg, emit=print) -> dict:
    effs = []
    for k in range(1, pairs + 1):
        tp = {}
        for cpus in (1, 4) if k % 2 else (4, 1):
            out = run(cpus, k)
            try:
                tp[cpus] = leg_throughput(out)
            except ValueError as e:
                emit(json.dumps({"pair": k, "cpus": cpus, "error": str(e), "stderr_tail": out.stderr[-2000:]}))
                continue
            emit(json.dumps({"pair": k, "cpus": cpus, "items_per_s": tp[cpus]}))
        if len(tp) == 2:
            effs.append(tp[4] / tp[1] / 4)
            emit(json.dumps({"pair": k, "seed": k, "first": "1-core" if k % 2 else "4-core",
                             "efficiency": round(effs[-1], 3)}))
    summary = {"metric": "crawl_wide throughput scaling efficiency, 1 -> 4 pinned cores",
               "pairs": len(effs), "target": TARGET}
    if effs:
        q1, _, q3 = statistics.quantiles(effs, n=4, method="inclusive") if len(effs) > 1 else effs * 3
        median = statistics.median(effs)
        summary.update(median=round(median, 3), iqr=round(q3 - q1, 3), met=median >= TARGET)
    emit(json.dumps(summary))
    return summary


if __name__ == "__main__":
    measure(int(sys.argv[1]) if len(sys.argv) > 1 else 5)
