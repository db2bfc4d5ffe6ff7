"""Extra benchmarks for optimization work (bench.py is FROZEN for
measurement — this file is the §1.4 noop-sink isolation harness).

Usage:
  python bench_extra.py time  q1 q2 ...   # best-of-N noop-sink seconds per query
  python bench_extra.py plan  q1 q2 ...   # .explain("formatted") to plans/r07/<q>_<tag>.txt
  python bench_extra.py all               # time every registered query once

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the CPUs this process may use), BENCH_EXTRA_REPEATS (default 3),
BENCH_EXTRA_TAG (plan file suffix, default "before").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from thuvienphapluat_crawler_spark import queries as Q
from thuvienphapluat_crawler_spark.session import DEFAULT_CPUS, get_spark


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_CPUS
    repeats = int(os.environ.get("BENCH_EXTRA_REPEATS", "3"))
    tag = os.environ.get("BENCH_EXTRA_TAG", "before")
    spark = get_spark(app_name="tvpl-bench-extra", cpus=cpus)

    if mode == "all":
        names = [n for n in Q.QUERIES if n != "crawl_engine_demo"]
        repeats = 1

    if mode == "plan":
        os.makedirs("plans/r07", exist_ok=True)
        for name in names:
            df = Q.QUERIES[name](spark, sf_dir)
            p = f"plans/r07/{name}_{tag}.txt"
            with open(p, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))
            print("wrote", p)
        spark.stop()
        return

    # warm each plan shape once at sf0.001 (codegen/JIT), like bench.py
    for name in names:
        Q.QUERIES[name](spark, "/root/testdata/sf0.001").write.mode("overwrite").format("noop").save()

    out = {}
    for name in names:
        best = None
        samples = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            Q.QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = round(time.perf_counter() - t0, 3)
            samples.append(dt)
            best = dt if best is None else min(best, dt)
        out[name] = {"best": best, "samples": samples}
        print(json.dumps({name: out[name]}))
    print(json.dumps({"summary": {k: v["best"] for k, v in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
