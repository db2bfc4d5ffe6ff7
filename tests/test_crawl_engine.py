from __future__ import annotations

import os
import shutil
import threading
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from thuvienphapluat_crawler_spark.operators import bloom as B
from thuvienphapluat_crawler_spark.plans import crawl_oracle, warehouse
from thuvienphapluat_crawler_spark.plans.frontier import CRAWL_LOG_SCHEMA, FRONTIER_SCHEMA, CrawlEngine
from thuvienphapluat_crawler_spark.sources import synthetic_web as SW

WORLD = SW.World(n_hosts=4, base_size=60, links_per_page=4, budget_per_host=8, max_epochs=3)


def spark_log_rows(engine: CrawlEngine):
    return sorted(
        (r.epoch, r.host, r.rank, r.canonical_url, r.fetch_slot, r.status, r.attempts, r.cookie_header)
        for r in engine.crawl_log().collect()
    )


def oracle_log_rows(res: crawl_oracle.OracleResult):
    return sorted(res.log)


def doc_spans(engine: CrawlEngine):
    return {
        r.canonical_url: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in engine.docs().collect()
    }


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    engine = CrawlEngine(spark, WORLD, root, n_buckets=4)
    engine.run()
    oracle = crawl_oracle.crawl(WORLD)
    return engine, oracle


def test_crawl_order_matches_oracle(run):
    engine, oracle = run
    assert spark_log_rows(engine) == oracle_log_rows(oracle)


def test_seen_set_matches_oracle(run):
    engine, oracle = run
    got = {r.canonical_url for r in engine.seen().collect()}
    assert got == oracle.seen


def test_seen_set_has_no_duplicates(run):
    engine, _ = run
    seen = engine.seen()
    assert seen.count() == seen.select("url_fp").distinct().count()


def test_docs_span_sequences_match_oracle(run):
    engine, oracle = run
    got = doc_spans(engine)
    assert set(got) == set(oracle.docs)
    for url, spans in oracle.docs.items():
        assert got[url] == spans, f"span mismatch for {url}"


def test_politeness_spacing(run):
    engine, _ = run
    rows = engine.crawl_log().collect()
    by_key: dict[tuple, list] = {}
    for r in rows:
        by_key.setdefault((r.epoch, r.host), []).append(r)
    for (epoch, host), group in by_key.items():
        h_idx = int(host[4:7])
        delay = SW.crawl_delay(h_idx)
        slots = sorted(r.fetch_slot for r in group)
        for a, b in zip(slots, slots[1:]):
            assert b - a >= delay - 1e-9, f"politeness violated on {host} epoch {epoch}"


def test_cookies_broadcast_into_fetch(run):
    """Hosts with a cookie dimension row fetch WITH that cookie header on
    every request; cookie-less hosts send none (crawler.py:62-70 cookie
    injection, generalized to a broadcast-joined per-host dimension)."""
    engine, _ = run
    rows = engine.crawl_log().collect()
    assert rows
    for r in rows:
        h_idx = int(r.host[4:7])
        assert r.cookie_header == SW.host_cookie_header(h_idx)
    assert any(r.cookie_header for r in rows)
    assert any(not r.cookie_header for r in rows)


def test_error_rows_have_no_docs(run):
    engine, _ = run
    errors = {r.canonical_url for r in engine.crawl_log().filter("status = 'error'").collect()}
    doc_urls = {r.canonical_url for r in engine.docs().collect()}
    assert not (errors & doc_urls)
    # error outcomes exhausted the retry budget (ocr_pdf.py:48-74 semantics)
    for r in engine.crawl_log().filter("status = 'error'").collect():
        assert r.attempts == 3


def test_checkpoints_metrics_consistent(run):
    engine, _ = run
    cps = engine.checkpoints().collect()
    total_fetched = sum(c.n_fetched for c in cps)
    assert total_fetched == engine.crawl_log().count()
    assert all(c.lineage for c in cps)


def test_manifest_n_ranked_is_epoch_log_size(run):
    engine, _ = run
    lineage = engine.wh.read_manifest()["lineage"]
    ranked = {int(e): v["n_ranked"] for e, v in lineage.items() if e != "0"}
    assert ranked and ranked == dict(Counter(r.epoch for r in engine.crawl_log().collect()))


def test_warehouse_root_holds_only_committed_deltas(run):
    """Every engine write under the root goes through stage() and
    commit_epoch(): each <table>/epoch=N dir is a committed delta of that
    table and the manifest is the only other entry. The newest bloom row
    of each bucket counts every seen URL exactly once."""
    engine, _ = run
    root, tables = engine.wh.root, engine.wh.read_manifest()["tables"]
    assert set(tables) == {"crawl_log", "docs", "frontier", "checkpoints", "bloom"}
    assert set(os.listdir(root)) == {*tables, "manifest.json"}
    for t, epochs in tables.items():
        assert sorted(os.listdir(os.path.join(root, t))) == [f"epoch={e:05d}" for e in sorted(epochs)]
    last = engine.wh.last_epoch()
    n_keys = sum(B.load_bucket(root, b, last).n_keys for b in range(engine.n_buckets))
    assert n_keys == engine.seen().count()


def _by_url(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values("canonical_url").reset_index(drop=True)


def test_fetch_group_equals_fn_on_collected_groups(spark, run):
    """The fetch stage's grouped map (one group per host) gives what its
    function gives on each host group of the collected input."""
    engine, _ = run
    w = Window.partitionBy("host").orderBy("category_priority", "depth", "url_fp")
    batch = (
        engine.wh.read(spark, "frontier", FRONTIER_SCHEMA)
        .withColumn("rank", F.row_number().over(w))
        .withColumn("cookie_header", F.lit(""))
    )
    fn = engine._fetch_group_fn(7)
    got = batch.groupBy("host").applyInPandas(fn, CRAWL_LOG_SCHEMA).toPandas()
    groups = [g.reset_index(drop=True) for _, g in batch.toPandas().groupby("host")]
    assert len(groups) == WORLD.n_hosts
    expected = pd.concat([fn(g) for g in groups], ignore_index=True)[got.columns]
    pd.testing.assert_frame_equal(_by_url(got), _by_url(expected))


def test_bloom_update_equals_update_bucket_per_collected_bucket(spark, run):
    """The bloom delta's grouped map (one group per host bucket) gives the
    rows update_bucket gives on each bucket of the collected keys, on top
    of the committed filters."""
    engine, _ = run
    root, epoch = engine.wh.root, engine.wh.last_epoch() + 1
    rows = engine.wh.read(spark, "frontier", FRONTIER_SCHEMA).filter(F.col("depth") > 0)
    got = engine._bloom_update(rows, epoch).toPandas()
    buckets = rows.select("host_bucket", "url_hash").toPandas().groupby("host_bucket")
    expected = [
        B.update_bucket(root, int(b), epoch, g["url_hash"].to_numpy(dtype=np.int64)) for b, g in buckets
    ]
    assert len(expected) > 1
    assert sorted(got.itertuples(index=False, name=None)) == sorted(expected)


def test_resume_equals_full_run(spark, tmp_path_factory, run):
    """Kill after epoch 2, resume with a FRESH engine → identical final
    state to the uninterrupted run (the reference's progress.json resume,
    ocr_pdf.py:119-141, at engine scale)."""
    full, _ = run
    part_root = str(tmp_path_factory.mktemp("wh_part"))
    partial = CrawlEngine(spark, WORLD, part_root, n_buckets=4)
    partial.run(max_epochs=2)
    assert partial.wh.last_epoch() == 2
    resumed = CrawlEngine(spark, WORLD, part_root, n_buckets=4)
    resumed.run()
    assert spark_log_rows(resumed) == spark_log_rows(full)
    a = {r.canonical_url for r in resumed.seen().collect()}
    b = {r.canonical_url for r in full.seen().collect()}
    assert a == b


def test_root_without_committed_bloom_is_refused(spark, tmp_path):
    """A root whose manifest has epochs but no bloom table (committed while
    the bloom lived outside the manifest) would resume with empty filters
    and duplicate seen URLs; the engine refuses it instead."""
    warehouse.SnapshotWarehouse(str(tmp_path)).commit_epoch(0, ["frontier"])
    with pytest.raises(ValueError, match="no committed bloom table"):
        CrawlEngine(spark, WORLD, str(tmp_path), n_buckets=4).run()


def _pool_threads() -> set[threading.Thread]:
    return {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}


def test_epoch_failure_after_writes_start_leaves_no_pool(spark, tmp_path_factory, monkeypatch):
    """A failure in run_epoch after the staged writes are submitted (here:
    the manifest read for the checkpoint lineage) must propagate with the
    failed writes' errors attached, commit nothing for that epoch, and
    leave no writer thread behind. A fresh engine on the same root then
    resumes to the oracle's result."""
    root = str(tmp_path_factory.mktemp("wh_fail"))
    engine = CrawlEngine(spark, WORLD, root, n_buckets=4)
    engine.bootstrap()
    before = _pool_threads()
    log_write_started = threading.Event()
    real_stage, real_read = engine.wh.stage, engine.wh.read_manifest

    def stage(table, epoch, df):
        if table == "crawl_log":
            log_write_started.set()
            raise OSError("injected crawl_log write failure")
        return real_stage(table, epoch, df)  # docs: a real write, still running

    def read_manifest():
        if _pool_threads() - before:  # the writer pool has started
            assert log_write_started.wait(60)
            raise RuntimeError("injected manifest read failure")
        return real_read()

    monkeypatch.setattr(engine.wh, "stage", stage)
    monkeypatch.setattr(engine.wh, "read_manifest", read_manifest)
    with pytest.raises(RuntimeError, match="injected manifest") as err:
        engine.run_epoch(1)
    monkeypatch.undo()

    assert any("injected crawl_log write failure" in n for n in err.value.__notes__)
    assert 1 not in engine.wh.read_manifest()["epochs"]
    assert not (_pool_threads() - before), "writer pool threads left running"

    resumed = CrawlEngine(spark, WORLD, root, n_buckets=4)
    resumed.run()
    oracle = crawl_oracle.crawl(WORLD)
    assert spark_log_rows(resumed) == oracle_log_rows(oracle)
    assert {r.canonical_url for r in resumed.seen().collect()} == oracle.seen


@pytest.fixture(scope="module")
def committed_to_epoch_1(spark, tmp_path_factory):
    """A warehouse with epochs 0 and 1 committed; each crash case copies it."""
    root = str(tmp_path_factory.mktemp("wh_e1"))
    CrawlEngine(spark, WORLD, root, n_buckets=4).run(max_epochs=1)
    return root


@pytest.mark.parametrize("step", ["crawl_log", "docs", "frontier", "checkpoints", "bloom", "commit"])
def test_crash_at_any_epoch_step_resumes_to_oracle(spark, tmp_path, committed_to_epoch_1, monkeypatch, step):
    """A failure at any step of epoch 2 (one table's staged write, or the
    manifest swap) leaves the manifest as it was, and a fresh engine on
    the same root resumes to the oracle's log, seen set and doc spans."""
    root = str(tmp_path / "wh")
    shutil.copytree(committed_to_epoch_1, root)
    engine = CrawlEngine(spark, WORLD, root, n_buckets=4)
    before = engine.wh.read_manifest()
    if step == "commit":
        real_replace = os.replace

        def replace(src, dst):
            if dst == engine.wh.manifest_path:
                raise OSError("injected manifest swap failure")
            return real_replace(src, dst)

        monkeypatch.setattr(warehouse.os, "replace", replace)
    else:
        real_stage = engine.wh.stage

        def stage(table, epoch, df):
            if table == step:
                raise OSError(f"injected {table} write failure")
            return real_stage(table, epoch, df)

        monkeypatch.setattr(engine.wh, "stage", stage)
    with pytest.raises(OSError, match="injected"):
        engine.run()
    monkeypatch.undo()
    assert engine.wh.read_manifest() == before

    resumed = CrawlEngine(spark, WORLD, root, n_buckets=4)
    resumed.run()
    oracle = crawl_oracle.crawl(WORLD)
    assert spark_log_rows(resumed) == oracle_log_rows(oracle)
    seen = [r.canonical_url for r in resumed.seen().collect()]
    assert len(seen) == len(oracle.seen) and set(seen) == oracle.seen
    assert doc_spans(resumed) == oracle.docs


def test_determinism_across_parallelism(spark, tmp_path_factory, run):
    """Same world, different bucket/partition layout → identical results
    (SURVEY §5 property: task order cannot leak into output)."""
    base, _ = run  # n_buckets=4
    r2 = str(tmp_path_factory.mktemp("wh_p16"))
    e2 = CrawlEngine(spark, WORLD, r2, n_buckets=16)
    e2.run()
    assert spark_log_rows(e2) == spark_log_rows(base)
    assert {r.canonical_url for r in e2.seen().collect()} == {
        r.canonical_url for r in base.seen().collect()
    }


def test_crawl_twice_is_idempotent(run):
    """Dedup idempotence: run() again on a drained warehouse is a no-op."""
    engine, _ = run
    n_log = engine.crawl_log().count()
    n_seen = engine.seen().count()
    engine.run()
    assert engine.crawl_log().count() == n_log
    assert engine.seen().count() == n_seen


def test_max_epochs_zero_runs_no_epoch(spark, tmp_path_factory):
    """max_epochs=0 means bootstrap only: 0 is a bound, not "unset"."""
    engine = CrawlEngine(spark, WORLD, str(tmp_path_factory.mktemp("wh_zero")), n_buckets=4)
    assert engine.run(max_epochs=0) == 0
    assert engine.wh.read_manifest()["epochs"] == [0]
    assert engine.crawl_log().count() == 0
    assert crawl_oracle.crawl(WORLD, max_epochs=0).log == []
