"""The repository benchmark: one named workload, one seed, one process.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Spark runs at local[<usable cores>]
inside this process; the workload drives the engine through its public
API in a closed loop (one client, one batch job at a time), checks the
outputs against their oracles outside the timed region, and prints as
its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics of a
traced run (`--trace 1`). The line before it is a JSON object with the
details: workload inputs, sample counts, output-check problems and, on a
traced run, the span accounting and the tracing overhead.

Workloads (see perfbench/README.md for the metric definitions):
  crawl_wide    CrawlEngine over a few large epochs
  corpus_build  the post-crawl corpus stages, each written to a parquet sink
  crawl_deep    CrawlEngine over many small epochs (not in BENCHMARK.json)
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procmon  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("crawl_deep", "crawl_wide", "corpus_build")
CRAWLS = ("crawl_deep", "crawl_wide")

# corpus_build stages, run one after another: text (2), dedup, similarity,
# codecs (2)
STAGES = (
    "docs_full_pipeline",
    "docs_repetition_filter",
    "docs_minhash_lsh_pairs",
    "emb_dup_clusters",
    "pdf_page_raster",
    "docx_real_chunks",
)
TABLES = ("crawl_log", "docs", "frontier", "checkpoints")

END_TO_END = {"setup_s": "s", "items_per_s": "1/s"}
CRAWL_LAYER = {
    "frontier.bootstrap_s": "s",
    "frontier.epoch_self_s": "s",
    "spark.jobs_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "warehouse.read_s": "s",
    "warehouse.commit_s": "s",
    "warehouse.files_per_epoch": "count",
    **{f"warehouse.stage_s.{t}": "s" for t in TABLES},
    "warehouse.bytes_per_url": "B",
    "spark.task_cpu_s_per_epoch": "s",
    "spark.shuffle_mb_per_epoch": "MB",
    "spark.spill_mb_per_epoch": "MB",
    "bloom.fp_rate": "ratio",
    "bloom.probe_us_per_key": "us",
}
STAGE_LAYER = {
    f"stage.{q}.{m}": unit
    for q in STAGES
    for m, unit in (("wall_s", "s"), ("task_cpu_s", "s"), ("shuffle_mb", "MB"), ("jobs", "count"))
}
# At the program's default driver heap the JVM's resident size follows
# G1's heap-sizing heuristics, so the memory peak spreads wider between
# runs than any bound an end-to-end metric may have: it is reported here,
# from the traced run, without a bound.
PER_LAYER = {"peak_rss_mb": "MB", **CRAWL_LAYER, **STAGE_LAYER}

MB = 1e6


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0, help="measure at least this long (whole passes)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: smoke-test inputs")
    return p.parse_args(argv)


def import_program():
    """Import the package from this checkout, never from anywhere else."""
    import thuvienphapluat_crawler_spark as pkg

    where = os.path.dirname(os.path.abspath(pkg.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"thuvienphapluat_crawler_spark resolved outside the checkout: {where}")


def spark_conf(work: str, trace: bool) -> dict:
    """Paths inside the checkout and, on a traced run, the event log; every
    other setting is the program's own (`session.get_spark`)."""
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                # parsed as plain JSON lines, with no zstd codec needed
                "spark.eventLog.compress": "false",
            }
        )
    return conf


# -- one pass of each workload ---------------------------------------------


def crawl_pass(spark, world, shape, root, tracer=None) -> dict:
    """Bootstrap, then every epoch of the world. Operations: the bootstrap
    and each epoch; one fails if it raises, an epoch also if it ranks
    nothing."""
    from thuvienphapluat_crawler_spark.plans.frontier import CrawlEngine

    engine = CrawlEngine(spark, world, root, n_buckets=shape.n_buckets, seeds_per_host=shape.seeds_per_host)
    if tracer is not None:
        instrument_engine(engine, tracer)
    res = {"engine": engine, "epochs": [], "epoch_s": [], "errors": [], "attempted": 1 + world.max_epochs, "done": 0}
    t0 = time.perf_counter()
    e = 0
    try:
        engine.bootstrap()
        res["done"] += 1
        for e in range(1, world.max_epochs + 1):
            t = time.perf_counter()
            if not engine.run_epoch(e):
                res["errors"].append(f"epoch {e}: nothing to fetch")
                break
            res["epoch_s"].append(time.perf_counter() - t)
            res["epochs"].append(e)
            res["done"] += 1
    except Exception as exc:  # a failed operation is data, not a crash
        res["errors"].append(f"{f'epoch {e}' if e else 'bootstrap'}: {exc!r}"[:500])
    finally:
        res["wall_s"] = time.perf_counter() - t0
        if tracer is not None:
            uninstrument_engine(engine)
    return res


def instrument_engine(engine, tracer) -> None:
    """Spans around the engine's and the warehouse's public calls, as
    instance attributes that shadow the methods."""
    engine.bootstrap = tracer.wrap("frontier.bootstrap", engine.bootstrap, probe_cpu=True)
    engine.run_epoch = tracer.wrap("frontier.run_epoch", engine.run_epoch, label=str, probe_cpu=True)
    wh = engine.wh
    wh.read = tracer.wrap("warehouse.read", wh.read, label=lambda spark, table, *a, **k: table)
    wh.stage = tracer.wrap("warehouse.stage", wh.stage, label=lambda table, *a, **k: table)
    wh.commit_epoch = tracer.wrap("warehouse.commit", wh.commit_epoch, label=lambda epoch, *a, **k: str(epoch))


def uninstrument_engine(engine) -> None:
    """Drop the spans again, so the output checks are not traced."""
    for obj, names in ((engine, ("bootstrap", "run_epoch")), (engine.wh, ("read", "stage", "commit_epoch"))):
        for name in names:
            obj.__dict__.pop(name, None)


def corpus_pass(spark, sf_dir, sink_dir, tracer=None) -> dict:
    """Every stage once, in order, each written to its own parquet sink."""
    from contextlib import nullcontext

    from thuvienphapluat_crawler_spark import queries as Q

    res = {"stage_s": {}, "errors": [], "attempted": len(STAGES), "done": 0, "sinks": {}}
    t0 = time.perf_counter()
    for q in STAGES:
        sink = os.path.join(sink_dir, q)
        ctx = tracer.span("corpus.stage", q, probe_cpu=True) if tracer is not None else nullcontext()
        t = time.perf_counter()
        try:
            with ctx:
                Q.QUERIES[q](spark, sf_dir).write.mode("overwrite").parquet(sink)
        except Exception as exc:
            res["errors"].append(f"{q}: {exc!r}"[:500])
            continue
        res["stage_s"][q] = time.perf_counter() - t
        res["sinks"][q] = sink
        res["done"] += 1
    res["wall_s"] = time.perf_counter() - t0
    return res


# -- layer figures computed after the run -----------------------------------


def _files_and_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def warehouse_and_bloom(root: str, epochs: list[int], n_urls: int) -> dict:
    """Delta and bloom files on disk, and the bloom filter's measured
    false-positive rate: each epoch's frontier delta holds keys known to
    be new, so every positive when probing them against the filter as of
    the previous epoch is a false positive."""
    import numpy as np
    import pyarrow.parquet as pq

    from thuvienphapluat_crawler_spark.operators import bloom as B

    files = size = 0
    for e in epochs:
        for part in [*(os.path.join(t, f"epoch={e:05d}") for t in TABLES), os.path.join("bloom", f"epoch={e:05d}")]:
            n, b = _files_and_bytes(os.path.join(root, part))
            files, size = files + n, size + b
    keys = positives = 0
    probe_s = 0.0
    for e in epochs:
        delta = pq.read_table(os.path.join(root, "frontier", f"epoch={e:05d}"), columns=["host_bucket", "url_hash"])
        df = delta.to_pandas()
        for b, grp in df.groupby("host_bucket"):
            k = grp["url_hash"].to_numpy(dtype=np.int64)
            t = time.perf_counter()
            flags = B.probe_bucket(root, int(b), e - 1, k)
            probe_s += time.perf_counter() - t
            keys += len(k)
            positives += int(np.count_nonzero(flags))
    return {
        "warehouse.files_per_epoch": files / len(epochs),
        "warehouse.bytes_per_url": size / max(n_urls, 1),
        "bloom.fp_rate": positives / max(keys, 1),
        "bloom.probe_us_per_key": probe_s / max(keys, 1) * 1e6,
        "bloom_keys_probed": keys,
        "bloom_false_positives": positives,
    }


def crawl_layers(tracer, per_span, passes) -> tuple[dict, dict]:
    """Per-layer crawl figures: medians over epochs for times, means per
    epoch for counts. Returns (metrics, span accounting details)."""
    epochs = [s for s in tracer.spans if s.name == "frontier.run_epoch"]
    boots = [s for s in tracer.spans if s.name == "frontier.bootstrap"]
    n = len(epochs)
    if n == 0:  # the bootstrap failed: nothing to break down
        return {}, {"epochs": 0}
    counts = [tracing.tree_counts(tracer, per_span, s) for s in epochs]

    def child_sum(ep, name, label=None):
        return sum(
            c.duration for c in tracer.descendants(ep.sid) if c.name == name and (label is None or c.label == label)
        )

    m = {
        "frontier.bootstrap_s": statistics.median(s.duration for s in boots),
        "frontier.epoch_self_s": statistics.median(tracer.self_time(s) for s in epochs),
        "spark.jobs_per_epoch": sum(c.jobs for c in counts) / n,
        "spark.tasks_per_epoch": sum(c.tasks for c in counts) / n,
        "warehouse.read_s": statistics.median(child_sum(s, "warehouse.read") for s in epochs),
        "warehouse.commit_s": statistics.median(child_sum(s, "warehouse.commit") for s in epochs),
        **{
            f"warehouse.stage_s.{t}": statistics.median(child_sum(s, "warehouse.stage", t) for s in epochs)
            for t in TABLES
        },
        "spark.task_cpu_s_per_epoch": sum(c.cpu_s + s.py_cpu_s for c, s in zip(counts, epochs)) / n,
        "spark.shuffle_mb_per_epoch": sum(c.shuffle_bytes for c in counts) / n / MB,
        "spark.spill_mb_per_epoch": sum(c.spill_bytes for c in counts) / n / MB,
    }
    # the epoch's own time plus what its children cover is its span; the
    # pass loop timed the same call from outside the span
    walls = [w for p in passes for w in p["epoch_s"]]
    gaps = [
        abs(tracer.self_time(s) + tracer.covered_by_children(s) - w) for s, w in zip(epochs, walls)
    ]
    accounting = {
        "epochs": n,
        "epoch_wall_s": [round(w, 4) for w in walls],
        "epoch_self_s": [round(tracer.self_time(s), 4) for s in epochs],
        "epoch_children_s": [round(tracer.covered_by_children(s), 4) for s in epochs],
        "max_abs_gap_s": round(max(gaps), 4) if gaps else None,
        "jobs_total": sum(c.jobs for c in counts),
    }
    return m, accounting


def stage_layers(tracer, per_span) -> dict:
    m = {}
    for q in STAGES:
        spans = [s for s in tracer.spans if s.name == "corpus.stage" and s.label == q]
        c = [tracing.tree_counts(tracer, per_span, s) for s in spans]
        m[f"stage.{q}.wall_s"] = statistics.median(s.duration for s in spans)
        m[f"stage.{q}.task_cpu_s"] = statistics.median(x.cpu_s + s.py_cpu_s for x, s in zip(c, spans))
        m[f"stage.{q}.shuffle_mb"] = statistics.median(x.shuffle_bytes for x in c) / MB
        m[f"stage.{q}.jobs"] = statistics.median(x.jobs for x in c)
    return m


def tree_fingerprint() -> str:
    """Hash of the program's and the benchmark's files (documentation
    aside), so that stored results of one tree are never compared with
    those of another."""
    paths = []
    for top in ("thuvienphapluat_crawler_spark", "perfbench"):
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = [d for d in dirnames if d != "__pycache__" and not d.startswith(".")]
            paths += [os.path.relpath(os.path.join(dirpath, n), ROOT) for n in names if not n.endswith(".md")]
    h = hashlib.sha256()
    for path in sorted(paths):
        with open(os.path.join(ROOT, path), "rb") as f:
            h.update(path.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def tracing_overhead(results_dir: str, prefix: str, traced: dict) -> dict | str:
    """Traced minus untraced on each end-to-end metric, against the
    median of the untraced runs of the same workload, size and tree
    recorded earlier in this checkout (result files named `prefix`...)."""
    base: dict[str, list[float]] = {}
    for name in sorted(os.listdir(results_dir)):
        if not name.startswith(prefix):
            continue
        with open(os.path.join(results_dir, name), encoding="utf-8") as f:
            for k, v in json.load(f)["metrics"].items():
                base.setdefault(k, []).append(v["value"])
    if not base:
        return "no untraced run of this workload and tree recorded in this checkout yet"
    return {
        k: {
            "traced": round(traced[k], 6),
            "untraced_median": round(statistics.median(v), 6),
            "traced_minus_untraced": round(traced[k] - statistics.median(v), 6),
            "untraced_runs": len(v),
        }
        for k, v in base.items()
        if k in traced
    }


# -- the run ------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = procmon.process_start_boottime()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    for d in (*(os.path.join(work, sub) for sub in ("local", "tmp", "eventlog")), results_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher and the driver): temp files in the checkout,
    # and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    # the Python workers import the package from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    try:
        import_program()
        return run(args, started, work, results_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    procmon.wait_for_descendants(os.getpid(), timeout_s=30)


def check_passes(spark, args, passes, work: str) -> list[str]:
    """Output checks of every pass, outside the timed region. Sets each
    pass's `failed_checks`; returns what differed."""
    import checks
    import inputs

    problems = [f"pass {i}: {e}" for i, p in enumerate(passes) for e in p["errors"]]
    if args.workload in CRAWLS:
        world, shape = inputs.crawl_world(args.workload, args.size, args.seed)
        for i, p in enumerate(passes):
            p["n_urls"] = p["engine"].crawl_log().count()
            try:
                found = checks.check_crawl(p["engine"], world, shape.seeds_per_host, p["epochs"]) if p["epochs"] else {}
            except Exception as exc:  # a check that cannot run fails its epochs
                found = dict.fromkeys(p["epochs"], f"check raised {exc!r}"[:500])
            p["failed_checks"] = sum(1 for v in found.values() if v)
            problems += [f"pass {i} epoch {e}: {v}" for e, v in found.items() if v]
        return problems
    checker = checks.StageChecker(ROOT, os.path.join(work, "sf"))
    try:
        for i, p in enumerate(passes):
            bad = {q: checker.check(spark, q, sink) for q, sink in p["sinks"].items()}
            p["failed_checks"] = sum(1 for v in bad.values() if v)
            problems += [f"pass {i} {q}: {v}" for q, v in bad.items() if v]
    finally:
        checker.close()
    return problems


def run(args, started: float, work: str, results_dir: str) -> int:
    import inputs

    from thuvienphapluat_crawler_spark.session import get_spark

    trace = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    crawl = args.workload in CRAWLS
    tree = tree_fingerprint()
    detail: dict = {"workload": args.workload, "seed": args.seed, "size": args.size, "cpus": cpus, "trace": trace, "tree": tree}

    # memory is sampled over the program's work: set-up and measured passes
    rss = procmon.RssSampler()
    rss.start()
    spark = None
    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=spark_conf(work, trace))
        detail["session_s"] = round(time.clock_gettime(time.CLOCK_BOOTTIME) - started, 3)
        # warm-up: the same workload at its smallest input
        if crawl:
            crawl_pass(spark, *inputs.crawl_world(args.workload, "tiny", args.seed), os.path.join(work, "warmup-wh"))
        else:
            inputs.write_corpus(os.path.join(work, "warmup-sf"), "tiny", args.seed)
            corpus_pass(spark, os.path.join(work, "warmup-sf"), os.path.join(work, "warmup-sink"))
        setup_s = time.clock_gettime(time.CLOCK_BOOTTIME) - started

        # inputs for the measured passes, made outside the timed region
        if crawl:
            world, shape = inputs.crawl_world(args.workload, args.size, args.seed)
            detail["world"] = {k: getattr(world, k) for k in ("n_hosts", "base_size", "zipf_s", "links_per_page", "budget_per_host", "max_epochs")}
            detail["seeds_per_host"], detail["n_buckets"] = shape.seeds_per_host, shape.n_buckets
        else:
            detail["docs"] = inputs.write_corpus(os.path.join(work, "sf"), args.size, args.seed)

        tracer = tracing.Tracer(spark.sparkContext, lambda: procmon.python_worker_cpu_s(os.getpid())) if trace else None
        passes = []
        measured = 0.0
        while not passes or measured < args.seconds:
            i = len(passes)
            if crawl:
                p = crawl_pass(spark, world, shape, os.path.join(work, f"wh-{i}"), tracer)
            else:
                p = corpus_pass(spark, os.path.join(work, "sf"), os.path.join(work, f"sink-{i}"), tracer)
            measured += p["wall_s"]
            passes.append(p)
        rss.stop()

        t_check = time.perf_counter()
        layer = {}
        problems = check_passes(spark, args, passes, work)
        detail["check_s"] = round(time.perf_counter() - t_check, 3)
        if trace and crawl and passes[-1]["epochs"]:
            last = passes[-1]
            layer = warehouse_and_bloom(last["engine"].wh.root, last["epochs"], last["n_urls"])
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)

    attempted = sum(p["attempted"] for p in passes)
    # an operation fails if it raised, was never reached, or its output check failed
    failed = sum(p["attempted"] - p["done"] + p.get("failed_checks", 0) for p in passes)
    if crawl:
        op_s = [s for p in passes for s in p["epoch_s"]]
        items = statistics.median(p["n_urls"] / p["wall_s"] for p in passes)
        detail.update(
            {
                "urls_per_s": round(items, 4),
                "urls_fetched": [p["n_urls"] for p in passes],
                "epoch_s_p50": round(statistics.median(op_s), 4) if op_s else None,
                "epoch_samples": len(op_s),
            }
        )
    else:
        items = statistics.median(detail["docs"] / p["wall_s"] for p in passes)
        detail.update({"docs_per_s": round(items, 4), "stage_s": [{q: round(s, 4) for q, s in p["stage_s"].items()} for p in passes]})
    detail.update(
        {
            "passes": len(passes),
            "peak_rss_mb": round(rss.peak_bytes / MB, 1),
            "failed_share": failed / max(attempted, 1),
            "problems": problems[:20],
        }
    )

    e2e = {"setup_s": setup_s, "items_per_s": items}
    if trace:
        events = tracing.read_event_log(os.path.join(work, "eventlog"))
        per_span = tracing.spark_counts_by_span(tracer, events)
        metrics = dict.fromkeys(PER_LAYER, 0.0)  # a layer this workload skips did no work
        metrics["peak_rss_mb"] = rss.peak_bytes / MB
        if crawl:
            m, detail["span_accounting"] = crawl_layers(tracer, per_span, passes)
            metrics.update(m)
            detail["bloom_keys_probed"] = layer.pop("bloom_keys_probed", 0)
            detail["bloom_false_positives"] = layer.pop("bloom_false_positives", 0)
            metrics.update(layer)
        else:
            metrics.update(stage_layers(tracer, per_span))
        detail["traced_end_to_end"] = {k: round(v, 6) for k, v in e2e.items()}
        detail["tracing_overhead"] = tracing_overhead(results_dir, f"{args.workload}.trace0.{args.size}.{tree}.", e2e)
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    stamp = f"{args.workload}.trace{args.trace}.{args.size}.{tree}.seed{args.seed}.pid{os.getpid()}.json"
    with open(os.path.join(results_dir, stamp), "w", encoding="utf-8") as f:
        json.dump(result, f)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
