"""IncrementalHammingIndex: persisted banded-Hamming near-dup index
(the image-axis twin of IncrementalLSHIndex) — incremental ≡ batch,
reopen guards, partition-pruned reads, replay neutralization."""

import numpy as np
import pytest

from edgar_crawler_spark.operators.dedup import (
    IncrementalHammingIndex,
    hamming_near_dup_pairs,
)


def _corpus(n=60, seed=0):
    """(image_id, phash) rows: per base id, a near twin (<= 3 flipped
    bits) and a far row — engineered pair structure, no decode."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        # keep sketches in [0, 2^62): bit flips stay in int64 range and
        # sign-extension subtleties can't mask a banding bug
        base = int(rng.integers(0, 2**62))
        rows.append((f"img{i:04d}", base))
        if i % 3 == 0:
            flipped = base
            for b in rng.choice(62, size=int(rng.integers(1, 4)), replace=False):
                flipped ^= 1 << int(b)
            rows.append((f"img{i:04d}#tw", flipped))
    return rows


def _mk(spark, rows):
    return spark.createDataFrame(rows, "image_id string, phash long")


def _pairset(df):
    return {(r.image_a, r.image_b, r.hamming) for r in df.collect()}


def test_incremental_equals_batch(spark, tmp_path):
    rows = _corpus()
    path = str(tmp_path / "hi")
    idx = IncrementalHammingIndex(spark, path, max_hamming=6)
    got = set()
    k = len(rows) // 3
    got |= _pairset(idx.add(_mk(spark, rows[:k])))
    got |= _pairset(idx.add(_mk(spark, rows[k : 2 * k])))
    # a later drop-in batch: a new index object over the same path
    idx = IncrementalHammingIndex(spark, path, max_hamming=6)
    got |= _pairset(idx.add(_mk(spark, rows[2 * k :])))
    want = _pairset(
        hamming_near_dup_pairs(_mk(spark, rows), "image_id", "phash", 64, 6)
    )
    assert got == want
    assert any(a + "#tw" == b for a, b, _ in want)  # engineered twins present


def test_reopen_guard_and_continue(spark, tmp_path):
    path = str(tmp_path / "hi")
    rows = _corpus(30)
    idx = IncrementalHammingIndex(spark, path)
    idx.add(_mk(spark, rows[:20]))
    with pytest.raises(ValueError, match="bands"):
        IncrementalHammingIndex(spark, path, max_hamming=3)
    re = IncrementalHammingIndex(spark, path)
    got = _pairset(re.add(_mk(spark, rows[20:])))
    fresh = IncrementalHammingIndex(spark, str(tmp_path / "hi2"))
    fresh.add(_mk(spark, rows[:20]))
    assert got == _pairset(fresh.add(_mk(spark, rows[20:])))


def test_pruned_scan_reads_fewer_dirs(spark, tmp_path):
    import glob
    import os

    path = str(tmp_path / "hi")
    idx = IncrementalHammingIndex(spark, path)
    idx.add(_mk(spark, _corpus(300, seed=1)))
    probe = _mk(spark, [("probe0", 12345), ("probe1", -99887766)])
    idx.add(probe)
    leafs = {os.path.dirname(f) for f in glob.glob(path + "/data/*/kb=*/*.parquet")}
    assert idx.last_scan_dirs is not None
    assert 0 < len(idx.last_scan_dirs) < len(leafs)


def test_replay_neutralized(spark, tmp_path):
    """A crash-replayed batch must not inflate bucket sizes or change
    later results: the index state after a double add equals the
    single-add state, observed through a third batch's output."""
    rows = _corpus(40, seed=2)
    b1, b2, b3 = rows[:15], rows[15:28], rows[28:]
    once = IncrementalHammingIndex(spark, str(tmp_path / "a"))
    once.add(_mk(spark, b1))
    once.add(_mk(spark, b2))
    want = _pairset(once.add(_mk(spark, b3)))

    replay = IncrementalHammingIndex(spark, str(tmp_path / "b"))
    replay.add(_mk(spark, b1))
    second = _pairset(replay.add(_mk(spark, b2)))
    # crash replay of b2: stale rows drop in favor of the fresh copies,
    # so the replayed add sees the identical corpus state
    assert _pairset(replay.add(_mk(spark, b2))) == second
    assert _pairset(replay.add(_mk(spark, b3))) == want


def test_bucket_cap_suppresses_degenerate_bucket(spark, tmp_path):
    """20 identical sketches (every near-black thumbnail) overflow the
    cap in every band — the quadratic bucket must not emit."""
    rows = [(f"flat{i:02d}", 0) for i in range(20)]
    idx = IncrementalHammingIndex(spark, str(tmp_path / "hi"), bucket_cap=10)
    assert idx.add(_mk(spark, rows)).count() == 0
    # under the cap the same shape pairs freely
    idx2 = IncrementalHammingIndex(spark, str(tmp_path / "hi2"), bucket_cap=1000)
    assert idx2.add(_mk(spark, rows)).count() == 20 * 19 // 2


def test_empty_batch_commits_nothing(spark, tmp_path):
    idx = IncrementalHammingIndex(spark, str(tmp_path / "hi"))
    idx.add(_mk(spark, _corpus(20, seed=3)))
    v = idx.table.current_version()
    out = idx.add(_mk(spark, []))
    assert out.count() == 0
    assert idx.table.current_version() == v


def test_catalog_row_twin_recall(spark):
    """The catalog surface: every engineered single-bit twin pairs with
    its original through the two-batch persisted index."""
    from edgar_crawler_spark.catalog import CATALOG, _HAMMING_INDEX_CACHE

    _HAMMING_INDEX_CACHE.clear()
    rows = CATALOG["image_hamming_index_pairs"][0](spark, "").collect()
    assert rows and all(r.image_b == r.image_a + "#tw" for r in rows)
    assert all(r.hamming == 1 for r in rows)


def test_compact_preserves_layout_and_results(spark, tmp_path):
    import glob

    path = str(tmp_path / "hi")
    rows = _corpus(60, seed=4)
    idx = IncrementalHammingIndex(spark, path)
    idx.add(_mk(spark, rows[:30]))
    idx.add(_mk(spark, rows[30:50]))
    idx.compact()
    assert glob.glob(path + "/data/*/kb=*/*.parquet")  # hive layout kept
    got = _pairset(idx.add(_mk(spark, rows[50:])))
    fresh = IncrementalHammingIndex(spark, str(tmp_path / "hi2"))
    fresh.add(_mk(spark, rows[:30]))
    fresh.add(_mk(spark, rows[30:50]))
    assert got == _pairset(fresh.add(_mk(spark, rows[50:])))
