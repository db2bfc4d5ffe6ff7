"""Partitioned bloom-filter URL-seen set (north_rule; SURVEY §2.7 U4).

One bitmap per host_bucket partition, built and probed with vectorized
numpy inside mapInPandas/applyInPandas (Arrow batches, no per-row
Python). The bloom is a PREFILTER only: negatives are guaranteed-unseen
(no false negatives), positives are confirmed by an exact left-anti join
against the seen table — so false positives can never violate the
exact-match requirement; they only cost a join probe.

Bitmaps are persisted per (epoch, bucket) beside the warehouse manifest
— the seen-set's checkpoint state, versioned with the same epoch commit
(lineage records the bloom version). On a real cluster the .npy files
live on shared storage (S3/HDFS); executors read the bucket they own.

The bloom is the only seen filter. The seen set only grows (no
deletion), and the benchmark measures the bloom's false-positive rate on
the crawl_wide workload. Generalizes the reference's only dedup
structure — the in-memory id() set of crawler.py:131-136 — to 10^10
URLs.
"""

from __future__ import annotations

import os

import numpy as np

# splitmix64 constants — public-domain mixing function
_C1 = np.uint64(0xBF58476D1CE4E5B9)
_C2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


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

    def __init__(self, n_bits: int, n_hashes: int = 4, bits: np.ndarray | None = None):
        # Round n_bits up to a byte multiple: load_bucket reconstructs
        # n_bits as len(bits)*8, so a non-aligned modulus would change
        # after persist+reload and reintroduce false NEGATIVES (breaking
        # the no-false-negative invariant the anti-join relies on).
        self.n_bits = (int(n_bits) + 7) // 8 * 8
        self.n_hashes = int(n_hashes)
        self.bits = bits if bits is not None else np.zeros(self.n_bits // 8, dtype=np.uint8)

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


# ---------------------------------------------------------------------------
# Per-bucket persistence: bloom/epoch=<e>/bucket_<b>.npy under the warehouse
# root (shared storage on a real cluster). Executors touch ONLY the bucket
# they own — probe and update both run inside pandas UDF partitions.
# A bucket with no new keys in an epoch simply has no file there; readers
# walk back to the most recent epoch that wrote it (copy-forward for free).
# Crash safety: a half-written epoch-e file is ignored by re-runs because
# both probe and update base themselves on up_to_epoch = e-1.
# ---------------------------------------------------------------------------


def _bloom_dir(root: str, epoch: int) -> str:
    return os.path.join(root, "bloom", f"epoch={epoch:05d}")


def load_bucket(root: str, bucket: int, up_to_epoch: int) -> BloomFilter | None:
    """Most recent persisted bloom for `bucket` at epoch ≤ up_to_epoch.
    Anything but a 1-D uint8 bitmap is refused: loaded as a bloom, it
    could answer "definitely new" for a seen URL."""
    for e in range(up_to_epoch, -1, -1):
        p = os.path.join(_bloom_dir(root, e), f"bucket_{bucket}.npy")
        if os.path.exists(p):
            arr = np.load(p, allow_pickle=False)
            if arr.ndim != 1 or arr.dtype != np.uint8:
                raise ValueError(f"{p}: not a bloom bitmap (shape {arr.shape}, dtype {arr.dtype})")
            return BloomFilter(n_bits=int(arr.shape[0]) * 8, bits=arr)
    return None


def probe_bucket(root: str, bucket: int, up_to_epoch: int, keys: np.ndarray) -> np.ndarray:
    """maybe-seen flags for keys; all-False if the bucket has no filter yet."""
    f = load_bucket(root, bucket, up_to_epoch)
    if f is None:
        return np.zeros(len(keys), dtype=bool)
    return f.contains(keys)


def update_bucket(
    root: str,
    bucket: int,
    epoch: int,
    keys: np.ndarray,
    capacity: int = 1 << 16,
) -> None:
    """Add keys to the bucket's bloom and persist it at `epoch`
    (atomic tmp+rename; based on the last bloom at ≤ epoch-1 so a
    crashed half-epoch write is never compounded)."""
    f = load_bucket(root, bucket, epoch - 1) or BloomFilter.for_capacity(capacity)
    f.add(keys)
    d = _bloom_dir(root, epoch)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".bucket_{bucket}.tmp.npy")
    with open(tmp, "wb") as fh:  # np.save on a path would re-append .npy
        np.save(fh, f.bits, allow_pickle=False)
    os.replace(tmp, os.path.join(d, f"bucket_{bucket}.npy"))
