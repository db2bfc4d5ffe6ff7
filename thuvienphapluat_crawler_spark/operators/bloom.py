"""Partitioned bloom-filter URL-seen set (north_rule; SURVEY §2.7 U4).

One bitmap per host_bucket partition, built and probed with vectorized
numpy inside mapInPandas/applyInPandas (Arrow batches, no per-row
Python). The bloom is a PREFILTER only: negatives are guaranteed-unseen
(no false negatives), positives are confirmed by an exact left-anti join
against the seen table — so false positives can never violate the
exact-match requirement; they only cost a join probe.

Persistence: the bitmaps are the warehouse's `bloom` table (SCHEMA), one
row per touched host_bucket per epoch delta, staged and committed in the
same manifest swap as the epoch's other tables (plans/warehouse.py).
`update_bucket` only computes a bucket's next row; the engine stages the
rows. Readers take the newest row for the bucket among the committed
epochs ≤ up_to_epoch, so a staged but uncommitted epoch is never read
and a bucket with no new keys in an epoch keeps its previous row.
`n_keys` is the bucket's cumulative insert count, the input to sizing a
bucket from its load.

The bloom is the only seen filter. The seen set only grows (no
deletion), and the benchmark measures the bloom's false-positive rate on
the crawl_wide workload. Generalizes the reference's only dedup
structure — the in-memory id() set of crawler.py:131-136 — to 10^10
URLs.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

# splitmix64 constants — public-domain mixing function
_C1 = np.uint64(0xBF58476D1CE4E5B9)
_C2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)

SCHEMA = "host_bucket int, bits binary, n_keys long"
CAPACITY = 1 << 16  # keys per bucket bitmap at 10 bits per key


def _mix(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(30)
        x *= _C1
        x ^= x >> np.uint64(27)
        x *= _C2
        x ^= x >> np.uint64(31)
    return x


class BloomFilter:
    """Vectorized bloom over int64/uint64 keys (xxhash64 of canonical URL)."""

    def __init__(self, n_bits: int, n_hashes: int = 4, bits: np.ndarray | None = None, n_keys: int = 0):
        # Round n_bits up to a byte multiple: load_bucket reconstructs
        # n_bits as len(bits)*8, so a non-aligned modulus would change
        # after persist+reload and reintroduce false NEGATIVES (breaking
        # the no-false-negative invariant the anti-join relies on).
        self.n_bits = (int(n_bits) + 7) // 8 * 8
        self.n_hashes = int(n_hashes)
        self.bits = bits if bits is not None else np.zeros(self.n_bits // 8, dtype=np.uint8)
        self.n_keys = int(n_keys)

    @classmethod
    def for_capacity(cls, capacity: int, bits_per_key: int = 10) -> "BloomFilter":
        return cls(max(1024, capacity * bits_per_key))

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        k = keys.astype(np.uint64, copy=False)
        h1 = _mix(k)
        with np.errstate(over="ignore"):
            h2 = _mix(k + _GOLDEN) | np.uint64(1)
        idx = np.empty((self.n_hashes, len(k)), dtype=np.uint64)
        for i in range(self.n_hashes):
            with np.errstate(over="ignore"):
                idx[i] = (h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)
        return idx

    def add(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        self.n_keys += len(keys)
        pos = self._positions(np.asarray(keys)).ravel()
        np.bitwise_or.at(self.bits, (pos >> np.uint64(3)).astype(np.int64), (1 << (pos & np.uint64(7))).astype(np.uint8))

    def contains(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized membership: True = maybe-seen, False = definitely new."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(keys))
        byte_idx = (pos >> np.uint64(3)).astype(np.int64)
        bit_mask = (1 << (pos & np.uint64(7))).astype(np.uint8)
        hit = (self.bits[byte_idx] & bit_mask) != 0
        return hit.all(axis=0)


def load_bucket(root: str, bucket: int, up_to_epoch: int) -> BloomFilter:
    """The bucket's newest committed bloom row at epoch ≤ up_to_epoch,
    or an empty filter if no committed epoch touched the bucket."""
    from ..plans.warehouse import SnapshotWarehouse  # plans imports this module

    for path in reversed(SnapshotWarehouse(root).delta_paths("bloom", up_to_epoch)):
        rows = pq.read_table(path, filters=[("host_bucket", "=", bucket)]).to_pylist()
        if rows:
            bits = np.frombuffer(rows[0]["bits"], dtype=np.uint8).copy()
            return BloomFilter(n_bits=len(bits) * 8, bits=bits, n_keys=rows[0]["n_keys"])
    return BloomFilter.for_capacity(CAPACITY)


def probe_bucket(root: str, bucket: int, up_to_epoch: int, keys: np.ndarray) -> np.ndarray:
    """maybe-seen flags for keys; all-False if the bucket has no filter yet."""
    return load_bucket(root, bucket, up_to_epoch).contains(keys)


def update_bucket(root: str, bucket: int, epoch: int, keys: np.ndarray) -> tuple[int, bytes, int]:
    """The bucket's `bloom` row for `epoch` (SCHEMA order): its committed
    filter as of epoch-1 plus `keys`. Based on epoch-1, a re-run of a
    crashed epoch never compounds that epoch's staged row."""
    f = load_bucket(root, bucket, epoch - 1)
    f.add(keys)
    return bucket, f.bits.tobytes(), f.n_keys
