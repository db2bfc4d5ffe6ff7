"""URL canonicalization + hashing as pure column expressions.

The reference derives a document category from URL shape with a regex
table (reference: pipeline.py:61-94) and dedupes by object identity
(reference: crawler.py:131-136). At 10^10-frontier scale both become
column expressions: canonical form → 64-bit hash → partitioned seen-set.

Everything here is JVM-side (whole-stage codegen); no Python UDFs.
`F.hash` IS Murmur3 x86_32, `F.xxhash64` the 64-bit companion — the
murmur3 hashing the north rule asks for, built in.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Category priority table — generalizes the reference's doc-name regex
# table (pipeline.py:61-94): lower rank = fetched earlier.
CATEGORY_PRIORITY = {
    "Luat": 0,
    "Nghi-dinh": 1,
    "Thong-tu": 2,
    "Quyet-dinh": 3,
    "Nghi-quyet": 4,
}
DEFAULT_PRIORITY = 9


def canonicalize_url(url: Column) -> Column:
    """Canonical URL form: trim, lowercase scheme+host, drop fragment,
    drop default ports, strip trailing slash on path, collapse //.

    Pure string expressions → codegen'd, pushes through shuffles free.
    """
    u = F.trim(url)
    # drop fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # lowercase scheme and host (leave path/query case intact)
    u = F.concat(
        F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
        F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$", 1),
    )
    # default ports
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443(?=[/?]|$)", r"$1")
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80(?=[/?]|$)", r"$1")
    # collapse duplicate slashes in the path (not the scheme's //)
    u = F.regexp_replace(u, r"(?<!:)//+", "/")
    # strip trailing slash (but keep bare root)
    u = F.regexp_replace(u, r"(://[^/?#]+/[^?#]*?)/+(\?|$)", r"$1$2")
    # drop empty query
    u = F.regexp_replace(u, r"\?$", "")
    return u


def url_host(url: Column) -> Column:
    """Host component (already lowercased by canonicalize_url)."""
    return F.parse_url(url, F.lit("HOST"))


def url_hash64(url: Column) -> Column:
    """64-bit content hash for the seen-set (xxhash64)."""
    return F.xxhash64(url)


def host_bucket(host: Column, num_buckets: int) -> Column:
    """Politeness partition key: hash(host) % P, non-negative.

    All URLs of one host land in one bucket → one concurrent fetch task
    per host, the distributed analogue of the reference's 1-req/s loop
    (upload_documents.py:129).
    """
    return F.pmod(F.hash(host), F.lit(num_buckets))


def category_priority(category: Column) -> Column:
    """Map category → priority rank (priority-queue major key)."""
    expr = F.lit(DEFAULT_PRIORITY)
    for cat, pri in CATEGORY_PRIORITY.items():
        expr = F.when(category == cat, F.lit(pri)).otherwise(expr)
    return expr


def url_category(url: Column) -> Column:
    """Extract category segment from a thuvienphapluat-style URL:
    https://host/van-ban/<Category>/<slug>-<id>.aspx
    (reference: pipeline.py:61-94 derives the doc name the same way).
    """
    return F.regexp_extract(url, r"/van-ban/([^/]+)/", 1)
