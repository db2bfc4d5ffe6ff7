"""Workload inputs, all derived from the workload seed.

The program under test only ever sees what these functions return: a
`World` (the synthetic web the crawl engine fetches from) or an sf-style
directory holding `documents.parquet` and `embeddings.parquet` (the
corpus-build stages read those two tables), rows picked from data/.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from thuvienphapluat_crawler_spark.sources.synthetic_web import World


@dataclass(frozen=True)
class CrawlShape:
    """A crawl world before the seed perturbs it, plus the engine knobs."""

    n_hosts: int
    base_size: int
    zipf_s: float
    links_per_page: int
    budget_per_host: int
    max_epochs: int
    seeds_per_host: int
    n_buckets: int = 8


CRAWL_SHAPES = {
    # many small epochs: the per-epoch fixed cost is nearly all of each epoch
    "crawl_deep": {
        "full": CrawlShape(4, 200, 1.2, 4, 8, 5, 2),
        "tiny": CrawlShape(2, 20, 1.2, 2, 3, 2, 1, 4),
    },
    # few large epochs: per-URL work dominates
    "crawl_wide": {
        "full": CrawlShape(72, 10000, 0.4, 4, 600, 2, 600),
        "tiny": CrawlShape(2, 20, 1.2, 2, 3, 2, 1, 4),
    },
}

# The seed moves base_size and zipf_s inside these bands. Every host's
# budget stays saturated across the band, so the fetched-URL count moves
# by a few percent at most.
BASE_SIZE_BAND = 0.03
ZIPF_BAND = 0.03


def crawl_world(workload: str, size: str, seed: int) -> tuple[World, CrawlShape]:
    shape = CRAWL_SHAPES[workload][size]
    rng = random.Random(f"{workload}:{seed}")
    world = World(
        n_hosts=shape.n_hosts,
        base_size=round(shape.base_size * (1 + rng.uniform(-BASE_SIZE_BAND, BASE_SIZE_BAND))),
        zipf_s=round(shape.zipf_s + rng.uniform(-ZIPF_BAND, ZIPF_BAND), 4),
        links_per_page=shape.links_per_page,
        budget_per_host=shape.budget_per_host,
        max_epochs=shape.max_epochs,
    )
    return world, shape


# The corpus rows come from the repository's sf0.1 test tables, copied
# under data/ (5,000 documents, 2,000 embeddings); the seed picks a
# subset, keeping the tables' 5:2 ratio of documents to embeddings.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
CORPUS_ROWS = {"full": {"documents": 1000, "embeddings": 400}, "tiny": {"documents": 24, "embeddings": 10}}


def write_corpus(sf_dir: str, size: str, seed: int) -> int:
    """Write a seeded subset of the documents and embeddings rows, in
    their original order, to `sf_dir`; returns the document count."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    for table, n in CORPUS_ROWS[size].items():
        rows = pq.read_table(os.path.join(DATA, f"{table}.parquet"))
        pick = np.sort(rng.choice(rows.num_rows, size=n, replace=False))
        pq.write_table(rows.take(pick), os.path.join(sf_dir, f"{table}.parquet"))
    return CORPUS_ROWS[size]["documents"]
