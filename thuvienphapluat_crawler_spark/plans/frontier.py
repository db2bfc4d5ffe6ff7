"""The crawl engine: window-ranked frontier generations with politeness,
bloom-prefiltered exact dedup, interleaved span emission, and atomic
epoch commits with per-partition lineage + metrics.

One epoch (the distributed generalization of the reference's sequential
URL→fetch→extract→write pipeline, pipeline.py:387-435, and its per-page
checkpoint loop, ocr/ocr_pdf.py:158-195):

  frontier ──anti-join log──▶ pending ──window rank──▶ budgeted batch
      │                                                     │
      │                              groupBy(host).applyInPandas (politeness:
      │                              one task per host, virtual-clock slots)
      │                                                     ▼
      │                                   crawl_log (status, attempts, slot)
      │                                           ok rows ──┬─ parse → doc rows
      │                                                     └─ outlinks
      │                                                          ▼
      seen ◀──bloom prefilter + exact left-anti join── candidate URLs
      frontier += confirmed-new (depth+1, discovered_epoch = e+1)
      bloom += touched buckets' bitmaps;  checkpoints += per-bucket metrics
      ONE atomic manifest commit over all five staged tables

Scale notes (the 100 TB story):
  * frontier/seen deltas are written partitioned by host_bucket → epoch
    reads prune to live buckets; the rank window shuffles on host once.
  * the seen anti-join keys on url_fp — at 10^10 rows AQE picks
    sort-merge and splits skewed buckets; the bloom prefilter removes
    the vast majority of candidates BEFORE that shuffle (negatives are
    guaranteed-new, no join needed).
  * politeness = groupBy(host) → exactly one concurrent task per host;
    Zipf-hot hosts bound epoch duration via the budget, not via a
    straggler task fetching the whole host.
  * all Python stages are Arrow-batched pandas UDFs (fetch simulation,
    parse, bloom) — no row-at-a-time UDFs anywhere.
  * determinism: every ordering is (category_priority, depth, url_fp) —
    no wall clock, no task-order dependence; the same world crawls
    identically at n_buckets 4 and 16 (tests/test_crawl_engine.py), and
    equals the sequential oracle at SPARK_GRAFT_CPUS=1 and =4
    (tools/verify_oracle.py).
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import urls as U
from ..operators import bloom as B
from ..rowmap import flat_map_rows, materialize
from ..sources import synthetic_web as SW
from ..sources.html_parse import extract_page
from .warehouse import SnapshotWarehouse

FRONTIER_SCHEMA = (
    "canonical_url string, url_fp string, url_hash long, host string, host_bucket int, "
    "category string, category_priority int, depth int, discovered_epoch int"
)
CRAWL_LOG_SCHEMA = (
    FRONTIER_SCHEMA
    + ", epoch int, rank int, fetch_slot double, status string, attempts int, cookie_header string"
)
DOC_SCHEMA = (
    "doc_id string, canonical_url string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, epoch int"
)
OUTLINK_SCHEMA = "out_url string, src_depth int"
CHECKPOINT_SCHEMA = (
    "partition_id int, epoch int, n_ranked long, n_fetched long, n_ok long, n_error long, "
    "n_attempts long, n_candidates long, n_new long, max_fetch_slot double, lineage string"
)


def _doc_id_for(url: str) -> str:
    """Filename-style doc id (reference sanitization: pipeline.py:426-428)."""
    h, category, n = SW.parse_url_parts(url)
    return f"{category}_doc-{n}_host{h:03d}".replace(" ", "_").replace("/", "-")


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        world: SW.World,
        root: str,
        n_buckets: int = 8,
        seeds_per_host: int = 2,
        content: str = "spans",
        robots: bool = False,
    ):
        self.spark = spark
        self.world = world
        self.wh = SnapshotWarehouse(root)
        self.n_buckets = n_buckets
        self.seeds_per_host = seeds_per_host
        # robots=True: per-host robots.txt TEXT is parsed (sources/robots)
        # into a broadcast rule dim; disallowed URLs are filtered out of
        # every epoch's batch BEFORE ranking, and the fetch stage takes
        # its crawl-delay FROM the parsed Crawl-delay line (north_rule:
        # politeness enforces "crawl-delay and robots.txt rules").
        self.robots = robots
        # 'spans': fetch emits pre-structured spans (synthetic shortcut);
        # 'html': fetch emits RAW HTML and the extract stage is the real
        # DOM pipeline (sources/html_parse.py — parse, tooltip/footnote
        # joins, Điều normalization, line merge), per pipeline.py:216-322
        self.content = content

    # -- frontier-row construction (shared by seeds and discovered links) --

    def _frontier_cols(self, df: DataFrame, depth_col: str, epoch: int) -> DataFrame:
        url = F.col("canonical_url")
        return df.select(
            url,
            F.md5(url).alias("url_fp"),
            F.xxhash64(url).alias("url_hash"),
            U.url_host(url).alias("host"),
            U.host_bucket(U.url_host(url), self.n_buckets).alias("host_bucket"),
            U.url_category(url).alias("category"),
            U.category_priority(U.url_category(url)).alias("category_priority"),
            F.col(depth_col).cast("int").alias("depth"),
            F.lit(epoch).cast("int").alias("discovered_epoch"),
        )

    def bootstrap(self) -> None:
        """Epoch 0: seeds → frontier + bloom, one atomic commit. (The
        seen set IS the frontier projected to its identity columns —
        frontier rows are inserted exactly once — so no separate seen
        table is written; see seen().)"""
        m = self.wh.read_manifest()
        if m["epochs"]:
            # a root committed while the bloom lived outside the manifest
            # would resume with empty filters, whose "definitely new"
            # answers skip the exact anti-join and duplicate seen URLs
            if "bloom" not in m["tables"]:
                raise ValueError(f"{self.wh.root}: no committed bloom table; crawl into a fresh root")
            return
        seeds = SW.seed_urls(self.world, self.seeds_per_host)
        raw = self.spark.createDataFrame([(u,) for u in seeds], "canonical_url string")
        fr = self._frontier_cols(raw.withColumn("depth", F.lit(0)), "depth", 0)
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(self.wh.stage, "frontier", 0, fr.repartition(self.n_buckets, "host_bucket")),
                pool.submit(self.wh.stage, "bloom", 0, self._bloom_update(fr, 0)),
            ]
            for f in futs:
                f.result()
        self.wh.commit_epoch(0, ["frontier", "bloom"], lineage={"seeds": len(seeds)})

    def _cookie_dim(self) -> DataFrame:
        """Per-host cookie dimension (S1 output shape) broadcast-joined
        into the fetch stage — the reference injects file-loaded cookies
        into every fetch (crawler.py:62-70, pipeline.py:114-117). Tiny
        table (one row per host) → broadcast, never a shuffle."""
        rows = [
            (SW.host_name(h), SW.host_cookie_header(h))
            for h in range(self.world.n_hosts)
            if SW.host_cookie_header(h)
        ]
        return self.spark.createDataFrame(rows or [("", "")], "host string, cookie_header string")

    def _robots_rules(self) -> DataFrame:
        """Broadcast rule dimension: each host's robots.txt TEXT parsed by
        the real RFC 9309 parser inside one mapInPandas (sources/robots).
        Tiny (hosts × ~2 rules) — cached on first use."""
        if getattr(self, "_robots_rules_df", None) is None:
            from ..sources.robots import rules_from_robots_txt

            txt = self.spark.createDataFrame(
                [(SW.host_name(h), SW.host_robots_txt(h)) for h in range(self.world.n_hosts)],
                "host string, robots_txt string",
            )
            self._robots_rules_df = rules_from_robots_txt(txt, agent=SW.ROBOTS_AGENT).localCheckpoint()
        return self._robots_rules_df

    # -- pandas-UDF stages ------------------------------------------------

    def _fetch_group_fn(self, epoch: int):
        def fetch(pdf: pd.DataFrame) -> pd.DataFrame:
            # One host per group → politeness is structural. Virtual-clock
            # slots replace sleep() (upload_documents.py:129) so the
            # schedule is deterministic and benchable.
            pdf = pdf.sort_values("rank").reset_index(drop=True)
            h_idx, _, _ = SW.parse_url_parts(pdf["canonical_url"].iloc[0])
            if "robots_delay" in pdf.columns:  # robots mode: delay comes
                rd = pdf["robots_delay"].iloc[0]  # from robots.txt
                # A host whose robots.txt has no Crawl-delay (or that is
                # absent from the rules dim) arrives as null/NaN — fall
                # back to the default per-host delay, never NaN slots.
                delay = float(rd) if rd is not None and not np.isnan(rd) else SW.crawl_delay(h_idx)
                pdf = pdf.drop(columns=["robots_delay"])
            else:
                delay = SW.crawl_delay(h_idx)
            pdf["fetch_slot"] = (pdf["rank"] - 1).astype("float64") * delay
            outcomes = [SW.fetch_attempts(u) for u in pdf["canonical_url"]]
            pdf["status"] = [o[0] for o in outcomes]
            pdf["attempts"] = np.int32([o[1] for o in outcomes])
            pdf["epoch"] = np.int32(epoch)
            return pdf

        return fetch

    @staticmethod
    def _parse_fn(url: str, epoch: int):
        """Fetched page URL → its one doc row, spans already in offset
        order (the extract stage, pipeline.py:216-322 re-expressed;
        content from the synthetic web)."""
        yield _doc_id_for(url), url, SW.page_spans(url), epoch

    @staticmethod
    def _html_parse_fn(url: str, epoch: int):
        """The real extract path: the page's raw HTML (synthetic DOM twin
        of page_spans) through html_parse.extract_page, its paragraphs
        as text spans in dense 0-based order; a page without paragraphs
        yields no doc row."""
        paragraphs = extract_page(SW.page_html(url))
        if paragraphs:
            spans = [("text", p, "", i) for i, (_, p) in enumerate(paragraphs)]
            yield _doc_id_for(url), url, spans, epoch

    def _outlinks_fn(self):
        world = self.world

        def outlinks(url: str, depth: int):
            for out in SW.page_outlinks(url, world):
                yield out, int(depth)

        return outlinks

    def _bloom_probe_fn(self, up_to_epoch: int):
        root = self.wh.root

        def probe(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            filters = {}  # host_bucket → its bloom, loaded once per task
            for pdf in it:
                flags = np.zeros(len(pdf), dtype=bool)
                for b, idx in pdf.groupby("host_bucket").groups.items():
                    if b not in filters:
                        filters[b] = B.load_bucket(root, int(b), up_to_epoch)
                    keys = pdf.loc[idx, "url_hash"].to_numpy(dtype=np.int64)
                    flags[pdf.index.get_indexer(idx)] = filters[b].contains(keys)
                yield pdf.assign(maybe_seen=flags)

        return probe

    def _bloom_update(self, new_rows: DataFrame, epoch: int) -> DataFrame:
        """The epoch's `bloom` delta: one applyInPandas group per touched
        bucket adds its new keys to the bucket's committed bitmap. Staging
        the frame is the action; untouched buckets keep their last row."""
        root = self.wh.root

        def upd(pdf: pd.DataFrame) -> pd.DataFrame:
            b = int(pdf["host_bucket"].iloc[0])
            return pd.DataFrame([B.update_bucket(root, b, epoch, pdf["url_hash"].to_numpy(dtype=np.int64))])

        return new_rows.select("host_bucket", "url_hash").groupBy("host_bucket").applyInPandas(upd, B.SCHEMA)

    def _discover(self, ok: DataFrame, frontier: DataFrame, epoch: int) -> tuple[DataFrame, DataFrame]:
        """Outlinks of the ok fetches → (probed candidates, confirmed-new
        frontier rows): bloom prefilter, then the exact anti-join."""
        links = flat_map_rows(ok.select("canonical_url", "depth"), self._outlinks_fn(), OUTLINK_SCHEMA)
        # one shuffle, not two: frontier columns are per-URL expressions, so
        # compute them BEFORE the exchange, repartition by host_bucket once,
        # and fold duplicate outlinks (min-depth) colocated — the groupBy
        # keys contain host_bucket, so the agg reuses the repartition
        # layout instead of adding its own url-keyed exchange.
        ann = self._frontier_cols(
            links.withColumnRenamed("out_url", "canonical_url"), "src_depth", epoch + 1
        )
        frontier_cols = [f.split()[0] for f in FRONTIER_SCHEMA.split(", ")]
        id_cols = [c for c in frontier_cols if c != "depth"]
        cands = (
            ann.repartition(self.n_buckets, "host_bucket")
            .groupBy(*id_cols)
            .agg((F.min("depth") + 1).cast("int").alias("depth"))
            .select(*frontier_cols)
        )

        probed = cands.mapInPandas(self._bloom_probe_fn(epoch - 1), FRONTIER_SCHEMA + ", maybe_seen boolean")
        probed = probed.localCheckpoint()
        fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        confirmed = (
            probed.filter(F.col("maybe_seen"))
            .drop("maybe_seen")
            .join(frontier.select("url_fp"), "url_fp", "left_anti")
        )
        new_rows = fresh.unionByName(confirmed).localCheckpoint()
        return probed, new_rows

    def _checkpoints(self, fetched: DataFrame, probed: DataFrame, new_rows: DataFrame, epoch: int) -> DataFrame:
        """Per-bucket lineage + metrics for the checkpoints table (the
        distributed progress.json, ocr/ocr_pdf.py:77-88,179-195)."""
        lineage = json.dumps(
            {"epoch": epoch, "bloom_base": epoch - 1, "manifest_epochs": self.wh.read_manifest()["epochs"]}
        )
        fstats = fetched.groupBy("host_bucket").agg(
            F.count("*").alias("n_fetched"),
            F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
            F.sum((F.col("status") == "error").cast("long")).alias("n_error"),
            F.sum("attempts").alias("n_attempts"),
            F.max("fetch_slot").alias("max_fetch_slot"),
            F.count("*").alias("n_ranked"),
        )
        # candidate + new counts in ONE union-based pass (was two
        # aggregations + an extra full_outer join)
        cnstats = (
            probed.select("host_bucket", F.lit(1).alias("_c"), F.lit(0).alias("_n"))
            .unionByName(new_rows.select("host_bucket", F.lit(0).alias("_c"), F.lit(1).alias("_n")))
            .groupBy("host_bucket")
            .agg(F.sum("_c").alias("n_candidates"), F.sum("_n").alias("n_new"))
        )
        return (
            fstats.join(cnstats, "host_bucket", "full_outer")
            .select(
                F.col("host_bucket").alias("partition_id"),
                F.lit(epoch).cast("int").alias("epoch"),
                F.coalesce("n_ranked", F.lit(0)).cast("long").alias("n_ranked"),
                F.coalesce("n_fetched", F.lit(0)).cast("long").alias("n_fetched"),
                F.coalesce("n_ok", F.lit(0)).cast("long").alias("n_ok"),
                F.coalesce("n_error", F.lit(0)).cast("long").alias("n_error"),
                F.coalesce("n_attempts", F.lit(0)).cast("long").alias("n_attempts"),
                F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
                F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
                F.coalesce("max_fetch_slot", F.lit(0.0)).alias("max_fetch_slot"),
                F.lit(lineage).alias("lineage"),
            )
        )

    # -- one epoch ---------------------------------------------------------

    def run_epoch(self, epoch: int) -> bool:
        wh, world = self.wh, self.world
        frontier = wh.read(self.spark, "frontier", FRONTIER_SCHEMA)
        log = wh.read(self.spark, "crawl_log", CRAWL_LOG_SCHEMA)

        pending = frontier.join(log.select("canonical_url"), "canonical_url", "left_anti")
        eligible = pending.filter(F.col("discovered_epoch") <= epoch)
        lineage = {"n_robots_blocked": 0}
        if self.robots:
            from ..sources.robots import apply_robots

            path = F.regexp_extract("canonical_url", r"^[a-z]+://[^/]+(/.*)$", 1)
            el, blocked = materialize(
                apply_robots(eligible.withColumn("path", path), self._robots_rules()),
                n_robots_blocked=F.count_if(~F.col("allowed")),
            )
            lineage.update(blocked)
            eligible = (
                el.filter(F.col("allowed"))
                .withColumnRenamed("crawl_delay", "robots_delay")
                .drop("path", "allowed", "matched_rule")
            )
        w = Window.partitionBy("host").orderBy("category_priority", "depth", "url_fp")
        batch = (
            eligible.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= world.budget_per_host)
            .join(F.broadcast(self._cookie_dim()), "host", "left")
            .withColumn("cookie_header", F.coalesce("cookie_header", F.lit("")))
        )

        fetched = batch.groupBy("host").applyInPandas(
            self._fetch_group_fn(epoch), CRAWL_LOG_SCHEMA
        )
        fetched, ranked = materialize(fetched, n_ranked=F.count(F.lit(1)))  # epoch outputs reuse it
        if ranked["n_ranked"] == 0:
            return False
        lineage.update(ranked)

        ok = fetched.filter(F.col("status") == "ok")
        parse = self._html_parse_fn if self.content == "html" else self._parse_fn
        docs = flat_map_rows(ok.select("canonical_url", F.lit(epoch)), parse, DOC_SCHEMA)

        # The epoch's outputs split into two independent dataflows off the
        # localCheckpoint'ed fetch: (a) parse → docs + the crawl_log copy,
        # (b) outlinks → bloom probe → frontier delta. Each is a chain of
        # small overhead-dominated jobs, so running (a) on a worker thread
        # while the main thread drives (b) overlaps their job latencies
        # (Spark schedules concurrent jobs FIFO; back-fill the tail). The
        # manifest commit still happens strictly after ALL writes land, so
        # atomicity/resume semantics are unchanged.
        pool = ThreadPoolExecutor(max_workers=3)
        futs = []
        try:
            futs += [
                pool.submit(wh.stage, "crawl_log", epoch, fetched),
                pool.submit(wh.stage, "docs", epoch, docs),
            ]
            probed, new_rows = self._discover(ok, frontier, epoch)
            checkpoints = self._checkpoints(fetched, probed, new_rows, epoch)
            futs += [
                pool.submit(wh.stage, "frontier", epoch, new_rows.repartition(self.n_buckets, "host_bucket")),
                pool.submit(wh.stage, "checkpoints", epoch, checkpoints),
                pool.submit(wh.stage, "bloom", epoch, self._bloom_update(new_rows, epoch)),
            ]
            for f in futs:
                f.result()  # propagate the first failure, never commit partial
        except BaseException as e:
            # drop the writes not yet started, wait for the running ones,
            # and keep their errors on the one that propagates
            for f in futs:
                f.cancel()
            for f in futs:
                err = None if f.cancelled() else f.exception()
                if err is not None and err is not e:
                    e.add_note(f"epoch {epoch} write also failed: {err!r}")
            raise
        finally:
            pool.shutdown(wait=True)
        wh.commit_epoch(epoch, ["crawl_log", "docs", "frontier", "checkpoints", "bloom"], lineage=lineage)
        return True

    def run(self, max_epochs: int | None = None) -> int:
        """Bootstrap if needed, then run epochs until the frontier drains
        or max_epochs; RESUMES from the last committed epoch (the
        progress.json semantics: max(last+1, start), ocr_pdf.py:135)."""
        self.bootstrap()
        max_epochs = self.world.max_epochs if max_epochs is None else max_epochs
        e = self.wh.last_epoch() + 1
        while e <= max_epochs:
            if not self.run_epoch(e):
                break
            e += 1
        return e - 1

    # -- results for assertions/bench --------------------------------------

    def crawl_log(self) -> DataFrame:
        return self.wh.read(self.spark, "crawl_log", CRAWL_LOG_SCHEMA)

    def seen(self) -> DataFrame:
        """The URL-seen set: the frontier projected to identity columns
        (frontier rows are inserted exactly once, so the projection IS
        the seen table — one fewer parquet write per epoch)."""
        return self.wh.read(self.spark, "frontier", FRONTIER_SCHEMA).select(
            "url_fp", "url_hash", "canonical_url", "host_bucket"
        )

    def docs(self) -> DataFrame:
        return self.wh.read(self.spark, "docs", DOC_SCHEMA)

    def checkpoints(self) -> DataFrame:
        return self.wh.read(self.spark, "checkpoints", CHECKPOINT_SCHEMA)

