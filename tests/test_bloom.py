from __future__ import annotations

import numpy as np

from thuvienphapluat_crawler_spark.operators.bloom import (
    SCHEMA,
    BloomFilter,
    load_bucket,
    probe_bucket,
    update_bucket,
)
from thuvienphapluat_crawler_spark.plans.warehouse import SnapshotWarehouse


def stage(spark, wh, epoch, keys_by_bucket):
    """Stage each bucket's next bloom row for `epoch` (not yet visible)."""
    rows = [update_bucket(wh.root, b, epoch, np.asarray(k, dtype=np.int64)) for b, k in keys_by_bucket.items()]
    wh.stage("bloom", epoch, spark.createDataFrame(rows, SCHEMA))


def commit(spark, wh, epoch, keys_by_bucket):
    stage(spark, wh, epoch, keys_by_bucket)
    wh.commit_epoch(epoch, ["bloom"])


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


def test_persistence_walkback(spark, tmp_path):
    wh = SnapshotWarehouse(str(tmp_path))
    k0 = np.array([1, 2, 3], dtype=np.int64)
    k5 = np.array([100, 200], dtype=np.int64)
    commit(spark, wh, 0, {2: k0})
    commit(spark, wh, 5, {2: k5})
    # probe at epoch 3 sees only epoch-0 content (walk-back)
    assert probe_bucket(wh.root, 2, 3, k0).all()
    assert not probe_bucket(wh.root, 2, 3, k5).any()
    assert load_bucket(wh.root, 2, 3).n_keys == 3
    # probe at epoch 5+ sees both (update chains from the previous row)
    assert probe_bucket(wh.root, 2, 7, np.concatenate([k0, k5])).all()
    assert load_bucket(wh.root, 2, 7).n_keys == 5
    # unknown bucket → all definitely-new
    assert not probe_bucket(wh.root, 4, 7, k0).any()
    assert load_bucket(wh.root, 4, 7).n_keys == 0


def test_crashed_epoch_not_compounded(spark, tmp_path):
    # a staged but uncommitted epoch is never read, and its re-run bases
    # on the last committed epoch, not on the crashed row
    wh = SnapshotWarehouse(str(tmp_path))
    commit(spark, wh, 0, {0: [1]})
    stage(spark, wh, 1, {0: [999]})
    assert not probe_bucket(wh.root, 0, 1, np.array([999], dtype=np.int64)).any()
    assert load_bucket(wh.root, 0, 1).n_keys == 1
    commit(spark, wh, 1, {0: [2]})
    f = load_bucket(wh.root, 0, 1)
    assert f.contains(np.array([1, 2], dtype=np.int64)).all()
    assert not f.contains(np.array([999], dtype=np.int64)).any()
    assert f.n_keys == 2


def test_non_byte_aligned_capacity_roundtrip(spark, tmp_path):
    # 10010 bits is not byte-aligned → n_bits must round up so the stored
    # bitmap reconstructs the SAME modulus (false negatives after reload
    # would silently break the exact-dedup invariant)
    wh = SnapshotWarehouse(str(tmp_path))
    keys = (np.arange(500, dtype=np.int64) * 2_654_435_761) ^ 0x5DEECE66D
    g = BloomFilter(n_bits=10010)
    g.add(keys)
    assert g.n_bits == 10016 and g.contains(keys).all()
    wh.stage("bloom", 0, spark.createDataFrame([(0, g.bits.tobytes(), g.n_keys)], SCHEMA))
    wh.commit_epoch(0, ["bloom"])
    f = load_bucket(wh.root, 0, 0)
    assert f.n_bits == g.n_bits and f.n_keys == 500
    assert f.contains(keys).all(), "reload must preserve membership (no false negatives)"


def test_filter_contract():
    f = BloomFilter.for_capacity(10_000)
    keys = (np.arange(10_000, dtype=np.int64) * 2_654_435_761) ^ 0x5DEECE66D
    f.add(keys)
    assert f.contains(keys).all(), "no false negatives"
    rng = np.random.RandomState(1)
    fresh = np.setdiff1d(rng.randint(-(2**62), 2**62, size=50_000).astype(np.int64), keys)
    assert f.contains(fresh).mean() < 0.05


def test_filter_persistence_roundtrip(spark, tmp_path):
    wh = SnapshotWarehouse(str(tmp_path))
    k0 = np.array([11, 22, 33], dtype=np.int64)
    k5 = np.array([77, 88], dtype=np.int64)
    commit(spark, wh, 0, {1: k0})
    commit(spark, wh, 2, {1: k5})
    f = load_bucket(wh.root, 1, 2)
    assert isinstance(f, BloomFilter)
    assert f.contains(np.concatenate([k0, k5])).all()
    assert probe_bucket(wh.root, 1, 1, k0).all() and not probe_bucket(wh.root, 1, 1, k5).any()


def test_stray_npy_from_older_tree_is_ignored(spark, tmp_path):
    # an older tree wrote each bitmap as bloom/epoch=<e>/bucket_<b>.npy
    # outside the manifest; only committed `bloom` rows are ever read
    wh = SnapshotWarehouse(str(tmp_path))
    d = tmp_path / "bloom" / "epoch=00000"
    d.mkdir(parents=True)
    with open(d / "bucket_3.npy", "wb") as fh:  # all bits set: "maybe seen" for every key
        np.save(fh, np.full(1 << 13, 0xFF, dtype=np.uint8), allow_pickle=False)
    keys = np.array([5, 6, 7], dtype=np.int64)
    assert not probe_bucket(wh.root, 3, 0, keys).any()
    commit(spark, wh, 1, {3: keys})
    assert (d / "bucket_3.npy").exists()
    f = load_bucket(wh.root, 3, 1)
    assert f.contains(keys).all() and f.n_keys == 3
    assert not f.contains(np.array([8, 9], dtype=np.int64)).any()
