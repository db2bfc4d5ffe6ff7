from __future__ import annotations

import numpy as np
import pytest

from thuvienphapluat_crawler_spark.operators.bloom import (
    BloomFilter,
    load_bucket,
    probe_bucket,
    update_bucket,
)


def test_no_false_negatives():
    f = BloomFilter.for_capacity(10_000)
    keys = np.arange(10_000, dtype=np.int64) * 2_654_435_761
    f.add(keys)
    assert f.contains(keys).all()


def test_false_positive_rate_sane():
    f = BloomFilter.for_capacity(10_000)
    rng = np.random.RandomState(0)
    inserted = rng.randint(-(2**62), 2**62, size=10_000).astype(np.int64)
    f.add(inserted)
    probes = rng.randint(-(2**62), 2**62, size=50_000).astype(np.int64)
    fresh = np.setdiff1d(probes, inserted)
    fpr = f.contains(fresh).mean()
    assert fpr < 0.05, f"FPR too high: {fpr}"


def test_empty_filter_rejects_all():
    f = BloomFilter.for_capacity(100)
    assert not f.contains(np.array([1, 2, 3], dtype=np.int64)).any()


def test_persistence_walkback(tmp_path):
    root = str(tmp_path)
    k0 = np.array([1, 2, 3], dtype=np.int64)
    k5 = np.array([100, 200], dtype=np.int64)
    update_bucket(root, bucket=2, epoch=0, keys=k0)
    update_bucket(root, bucket=2, epoch=5, keys=k5)
    # probe at epoch 3 sees only epoch-0 content (walk-back)
    assert probe_bucket(root, 2, 3, k0).all()
    assert not probe_bucket(root, 2, 3, k5).any()
    # probe at epoch 5+ sees both (update chains from the previous file)
    assert probe_bucket(root, 2, 7, np.concatenate([k0, k5])).all()
    # unknown bucket → all definitely-new
    assert not probe_bucket(root, 4, 7, k0).any()


def test_crashed_epoch_not_compounded(tmp_path):
    root = str(tmp_path)
    update_bucket(root, 0, epoch=0, keys=np.array([1], dtype=np.int64))
    # a "crashed" epoch-1 write that was never committed
    update_bucket(root, 0, epoch=1, keys=np.array([999], dtype=np.int64))
    # re-run of epoch 1 bases on epoch 0, not the crashed file
    update_bucket(root, 0, epoch=1, keys=np.array([2], dtype=np.int64))
    f = load_bucket(root, 0, 1)
    assert f.contains(np.array([1, 2], dtype=np.int64)).all()


def test_non_byte_aligned_capacity_roundtrip(tmp_path):
    # capacity*bits_per_key not divisible by 8 → n_bits must round up so
    # the persisted bitmap reconstructs the SAME modulus (false negatives
    # after reload would silently break the exact-dedup invariant)
    root = str(tmp_path)
    keys = (np.arange(500, dtype=np.int64) * 2_654_435_761) ^ 0x5DEECE66D
    update_bucket(root, bucket=0, epoch=0, keys=keys, capacity=1001)  # 10010 bits → not byte-aligned
    f = load_bucket(root, 0, 0)
    assert f.n_bits % 8 == 0
    assert f.contains(keys).all(), "reload must preserve membership (no false negatives)"
    # and in-memory filter already uses the rounded modulus
    g = BloomFilter(n_bits=10010)
    g.add(keys)
    assert g.n_bits == f.n_bits and g.contains(keys).all()


@pytest.mark.parametrize("kind", ["bloom"])
def test_filter_contract(kind):
    f = BloomFilter.for_capacity(10_000)
    keys = (np.arange(10_000, dtype=np.int64) * 2_654_435_761) ^ 0x5DEECE66D
    f.add(keys)
    assert f.contains(keys).all(), "no false negatives"
    rng = np.random.RandomState(1)
    fresh = np.setdiff1d(rng.randint(-(2**62), 2**62, size=50_000).astype(np.int64), keys)
    assert f.contains(fresh).mean() < 0.05


@pytest.mark.parametrize("kind", ["bloom"])
def test_filter_persistence_roundtrip(tmp_path, kind):
    root = str(tmp_path)
    k0 = np.array([11, 22, 33], dtype=np.int64)
    k5 = np.array([77, 88], dtype=np.int64)
    update_bucket(root, 1, epoch=0, keys=k0)
    update_bucket(root, 1, epoch=2, keys=k5)
    f = load_bucket(root, 1, 2)
    assert isinstance(f, BloomFilter)
    assert f.contains(np.concatenate([k0, k5])).all()
    assert probe_bucket(root, 1, 1, k0).all() and not probe_bucket(root, 1, 1, k5).any()


def test_load_bucket_rejects_non_bitmap(tmp_path):
    # a 2-D uint16 slot table (the on-disk shape of the removed cuckoo
    # filter) read as a bloom bitmap could answer "definitely new" for a
    # seen URL; the loader must refuse it and name the file
    root = str(tmp_path)
    d = tmp_path / "bloom" / "epoch=00000"
    d.mkdir(parents=True)
    with open(d / "bucket_3.npy", "wb") as fh:
        np.save(fh, np.zeros((256, 4), dtype=np.uint16), allow_pickle=False)
    with pytest.raises(ValueError, match="bucket_3.npy"):
        load_bucket(root, 3, 0)
    with pytest.raises(ValueError, match="not a bloom bitmap"):
        probe_bucket(root, 3, 2, np.array([1], dtype=np.int64))
    with open(d / "bucket_4.npy", "wb") as fh:  # right rank, wrong dtype
        np.save(fh, np.zeros(128, dtype=np.uint16), allow_pickle=False)
    with pytest.raises(ValueError, match="bucket_4.npy"):
        load_bucket(root, 4, 0)
