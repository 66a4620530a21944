"""IncrementalLSHIndex: batch-by-batch near-dup candidates against the
persisted corpus state must reproduce the one-shot batch operator."""

import pyspark.sql.functions as F

from edgar_crawler_spark.operators.dedup import IncrementalLSHIndex, minhash_lsh_pairs


def _docs(spark, lo, hi):
    # every i and i+1000 share text when i % 3 == 0 -> cross-batch dups
    rows = []
    for i in range(lo, hi):
        base = i - (i % 3 == 0) * (i % 1000)  # collapse some ids to shared text
        rows.append((i, f"alpha beta gamma delta {base % 17} epsilon {base % 5} zeta"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_incremental_equals_batch(spark, tmp_path):
    full = _docs(spark, 0, 120)
    expected = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(full, bucket_cap=10**6).collect()
    }

    path = str(tmp_path / "lsh")
    idx = IncrementalLSHIndex(spark, path, bucket_cap=10**6)
    got = set()
    for lo, hi in [(0, 40), (40, 80), (80, 120)]:
        if lo == 80:
            # a later drop-in batch: a new index object over the same path
            idx = IncrementalLSHIndex(spark, path, bucket_cap=10**6)
        pairs = idx.add(_docs(spark, lo, hi))
        batch_pairs = {(r.doc_a, r.doc_b) for r in pairs.collect()}
        # every emitted pair touches the new batch
        assert all(lo <= a < hi or lo <= b < hi for a, b in batch_pairs)
        got |= batch_pairs
    assert got == expected


def test_incremental_state_survives_reopen(spark, tmp_path):
    path = str(tmp_path / "lsh")
    IncrementalLSHIndex(spark, path).add(_docs(spark, 0, 30))
    # a NEW index object over the same path sees the old corpus
    idx2 = IncrementalLSHIndex(spark, path)
    dup_of_0 = spark.createDataFrame(
        [(9000, _docs(spark, 0, 1).collect()[0].text)], ["doc_id", "text"]
    )
    pairs = {(r.doc_a, r.doc_b) for r in idx2.add(dup_of_0).collect()}
    assert (0, 9000) in pairs


def test_bucket_cap_stops_emission_monotonically(spark, tmp_path):
    # 30 identical docs, cap 10: batch1 (8 docs) emits all its pairs,
    # batch2 pushes the bucket past the cap -> no new emissions
    same = [(i, "x y z x y z") for i in range(30)]
    b1 = spark.createDataFrame(same[:8], ["doc_id", "text"])
    b2 = spark.createDataFrame(same[8:], ["doc_id", "text"])
    idx = IncrementalLSHIndex(spark, str(tmp_path / "lsh"), bucket_cap=10)
    p1 = idx.add(b1)
    assert p1.count() == 8 * 7 // 2
    p2 = idx.add(b2)
    assert p2.count() == 0


def test_hamming_incremental_corpus_shape(spark):
    """hamming_near_dup_pairs(corpus=...) returns exactly the batch
    result restricted to pairs touching the new slice."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.operators.dedup import hamming_near_dup_pairs

    rows = [(i, (i // 3) * 1024 + (i % 3)) for i in range(60)]  # trios of near hashes
    full = spark.createDataFrame(rows, "doc_id long, h long")
    old, new = full.filter(F.col("doc_id") < 40), full.filter(F.col("doc_id") >= 40)

    batch = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_near_dup_pairs(full, "doc_id", "h", 64, 6).collect()
    }
    expected = {(a, b, hm) for a, b, hm in batch if a >= 40 or b >= 40}
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_near_dup_pairs(new, "doc_id", "h", 64, 6, corpus=old).collect()
    }
    assert got == expected and got  # non-empty: cross-slice trios exist


def test_minhash_verified_pairs_disposes_weak_candidates(spark):
    """The signature-estimated Jaccard must pass exact duplicates at
    1.0 and dispose banded-but-dissimilar candidates below min_sim."""
    import pyspark.sql.functions as F

    from edgar_crawler_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_verified_pairs,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, shared),                                  # exact dup of 2
        (2, shared),
        (3, shared + " iota kappa lam mu nu xi omicron pi rho sigma tau"),
    ]  # 3 shares 8/19 tokens with 1 -> bands may propose, verify must dispose
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cand = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, bucket_cap=10**6).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_verified_pairs(
            docs, bucket_cap=10**6, min_sim=0.9
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    # any candidate involving doc 3 is disposed at min_sim=0.9
    assert all(3 not in pair for pair in got)
    assert set(got) <= cand


def test_incremental_verified_equals_batch(spark, tmp_path):
    """min_sim in the incremental index reproduces the batch
    propose/dispose operator, with the estimate reconstructed from the
    persisted band keys (no extra signature storage)."""
    from edgar_crawler_spark.operators.dedup import (
        IncrementalLSHIndex,
        minhash_verified_pairs,
    )

    full = _docs(spark, 0, 120)
    expected = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_verified_pairs(full, bucket_cap=10**6, min_sim=0.5).collect()
    }
    idx = IncrementalLSHIndex(
        spark, str(tmp_path / "lsh"), bucket_cap=10**6, min_sim=0.5
    )
    got = set()
    for lo, hi in [(0, 60), (60, 120)]:
        got |= {
            (r.doc_a, r.doc_b, r.est_jaccard)
            for r in idx.add(_docs(spark, lo, hi)).collect()
        }
    assert got == expected and got


def test_partitioned_layout_prunes_corpus_scan(spark, tmp_path):
    """The band table is hive-partitioned by
    kb = pmod(xxhash64(band, band_key), INDEX_BUCKETS): a batch touching
    few buckets must READ fewer partition dirs than the table holds
    (directory pruning), while 3-batch ≡ one-shot equivalence and
    cross-batch recall are unchanged."""
    import glob
    import os

    full = _docs(spark, 0, 120)
    expected = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(full, bucket_cap=10**6).collect()
    }
    path = str(tmp_path / "lshp")
    idx = IncrementalLSHIndex(spark, path, bucket_cap=10**6)
    got = set()
    for lo, hi in [(0, 40), (40, 80), (80, 120)]:
        got |= {(r.doc_a, r.doc_b) for r in idx.add(_docs(spark, lo, hi)).collect()}
    assert got == expected

    # a 1-doc batch touches ≤ bands distinct kb values -> pruned scan
    one = spark.createDataFrame(
        [(9000, _docs(spark, 0, 1).collect()[0].text)], ["doc_id", "text"]
    )
    pairs = {(r.doc_a, r.doc_b) for r in idx.add(one).collect()}
    assert (0, 9000) in pairs
    total_leaf_dirs = {
        os.path.dirname(f) for f in glob.glob(path + "/data/*/kb=*/*.parquet")
    }
    assert idx.last_scan_dirs is not None
    assert 0 < len(idx.last_scan_dirs) < len(total_leaf_dirs)


def test_partitioned_min_sim_matches_unpartitioned(spark, tmp_path):
    """The dispose (agreeing-seed estimate) leg must produce identical
    verified pairs under the pruned layout — it needs member docs' band
    rows across ALL bands, which the doc-hash twin table supplies
    (partition-pruned to the candidate members' buckets)."""
    batches = [(0, 60), (60, 120)]

    from edgar_crawler_spark.operators.dedup import minhash_verified_pairs

    full = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_verified_pairs(
            _docs(spark, 0, 120), bucket_cap=10**6, min_sim=0.5
        ).collect()
    }
    idx = IncrementalLSHIndex(spark, str(tmp_path / "part"), bucket_cap=10**6, min_sim=0.5)
    for lo, hi in batches:
        got = {
            (r.doc_a, r.doc_b, r.est_jaccard)
            for r in idx.add(_docs(spark, lo, hi)).collect()
        }
        # each batch emits exactly the unpartitioned batch operator's
        # pairs that touch it and no earlier batch's
        want = {t for t in full if lo <= t[1] < hi}
        assert got == want and got


def test_dispose_twin_prunes_member_scan(spark, tmp_path):
    """min_sim maintains the _bydoc twin: a small batch's
    dispose leg must read only the member docs' db partitions, not the
    whole twin (directory pruning, observable via last_dispose_dirs)."""
    import glob
    import os

    path = str(tmp_path / "lshd")
    idx = IncrementalLSHIndex(
        spark, path, bucket_cap=10**6, min_sim=0.5
    )
    for lo, hi in [(0, 60), (60, 120)]:
        idx.add(_docs(spark, lo, hi))
    one = spark.createDataFrame(
        [(9000, _docs(spark, 0, 1).collect()[0].text)], ["doc_id", "text"]
    )
    pairs = {(r.doc_a, r.doc_b) for r in idx.add(one).collect()}
    assert (0, 9000) in pairs
    twin_leaf_dirs = {
        os.path.dirname(f) for f in glob.glob(path + "/_bydoc/data/*/db=*/*.parquet")
    }
    assert idx.last_dispose_dirs is not None
    assert 0 < len(idx.last_dispose_dirs) < len(twin_leaf_dirs)
    # and the candidate leg stayed pruned too
    assert idx.last_scan_dirs is not None


def test_dispose_twin_backfills_on_late_enable_and_crash(spark, tmp_path):
    """Enabling min_sim on a pre-twin table and reopening after a crash
    between the two appends must both rebuild the twin from the main
    table (stamp mismatch → overwrite) and then answer identically to
    an always-enabled index."""
    batches = [(0, 60), (60, 120)]

    # reference: a min_sim index over the same batches
    ref_idx = IncrementalLSHIndex(
        spark, str(tmp_path / "ref"), bucket_cap=10**6, min_sim=0.5
    )
    ref = set()
    for lo, hi in batches:
        ref |= {
            (r.doc_a, r.doc_b, r.est_jaccard)
            for r in ref_idx.add(_docs(spark, lo, hi)).collect()
        }

    # late enable: first batch ingested WITHOUT min_sim (no twin) …
    path = str(tmp_path / "late")
    IncrementalLSHIndex(spark, path, bucket_cap=10**6).add(
        _docs(spark, 0, 60)
    )
    # … then reopened WITH min_sim: __init__ must backfill the twin
    idx = IncrementalLSHIndex(
        spark, path, bucket_cap=10**6, min_sim=0.5
    )
    assert int(idx.bydoc.latest_metrics()["main_version"]) == idx.table.current_version()
    got = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in idx.add(_docs(spark, 60, 120)).collect()
    }
    # second-batch output must equal the reference's second-batch slice
    ref2 = {t for t in ref if 60 <= t[0] < 120 or 60 <= t[1] < 120}
    assert got == ref2 and len(got) > 0

    # crash window: main append landed, twin append did not — simulate
    # by rolling the twin pointer back one commit, then reopen
    twin_v = idx.bydoc.current_version()
    idx.bydoc.rollback(twin_v - 1)
    idx2 = IncrementalLSHIndex(
        spark, path, bucket_cap=10**6, min_sim=0.5
    )
    assert int(idx2.bydoc.latest_metrics()["main_version"]) == idx2.table.current_version()
    dup = spark.createDataFrame(
        [(9000, _docs(spark, 0, 1).collect()[0].text)], ["doc_id", "text"]
    )
    pairs = {(r.doc_a, r.doc_b) for r in idx2.add(dup).collect()}
    assert (0, 9000) in pairs


def test_dispose_twin_survives_compaction(spark, tmp_path):
    """compact() on a min_sim index must rewrite BOTH layouts (kb main,
    db twin) and change no answers."""
    import glob

    path = str(tmp_path / "lshdc")
    idx = IncrementalLSHIndex(
        spark, path, bucket_cap=10**6, min_sim=0.5
    )
    for lo, hi in [(0, 40), (40, 80)]:
        idx.add(_docs(spark, lo, hi))
    idx.compact()
    assert len(idx.bydoc.latest_manifest()["files"]) == 1
    assert glob.glob(path + "/_bydoc/data/*/db=*")
    dup = spark.createDataFrame(
        [(9000, _docs(spark, 0, 1).collect()[0].text)], ["doc_id", "text"]
    )
    pairs = {(r.doc_a, r.doc_b) for r in idx.add(dup).collect()}
    assert (0, 9000) in pairs


def _legacy_index(spark, path, docs, n_buckets):
    """An index table as releases with a settable bucket count wrote
    it: band rows flat (``n_buckets=0``) or under ``kb`` at another
    bucket count, stamped with that count, in manifests that do not
    record ``partition_by``."""
    import json
    import os

    from edgar_crawler_spark.frontier.state import SnapshotTable
    from edgar_crawler_spark.operators.dedup import band_rows

    table = SnapshotTable(path)
    for lo, hi in docs:
        rows = band_rows(_docs(spark, lo, hi))
        parts = None
        if n_buckets:
            kb = F.pmod(F.xxhash64("band", "band_key"), F.lit(n_buckets)).cast("int")
            rows, parts = rows.withColumn("kb", kb), ["kb"]
        v = table.append(rows, metrics={"docs": hi - lo, "n_buckets": n_buckets}, partition_by=parts)
        mpath = os.path.join(path, "_snapshots", f"v{v:06d}.json")
        with open(mpath) as f:
            manifest = json.load(f)
        del manifest["partition_by"]
        if n_buckets:  # the schema then named the partition column too
            manifest["schema"] = rows.schema.json()
        with open(mpath, "w") as f:
            json.dump(manifest, f)
    return table


def test_partitioned_reopen_guard(spark, tmp_path):
    """A table written at another bucket count must never be pruned
    with this layout's bucket ids (that would drop near-dup edges):
    reopening rewrites it once into the current layout, and it answers
    as an index built in that layout does."""
    from edgar_crawler_spark.operators.dedup import INDEX_BUCKETS, band_rows

    path = str(tmp_path / "lshg")
    _legacy_index(spark, path, [(0, 10), (10, 20)], n_buckets=8)
    idx = IncrementalLSHIndex(spark, path)
    assert idx.table.latest_metrics()["n_buckets"] == INDEX_BUCKETS
    live = idx.table.latest_manifest()["files"]
    assert len(live) == 1
    # every row sits under its bucket at the current count
    kb = F.pmod(F.xxhash64("band", "band_key"), F.lit(INDEX_BUCKETS))
    rewritten = spark.read.parquet(f"{path}/{live[0]}")
    assert rewritten.filter(F.col("kb") != kb).count() == 0
    assert idx.table.read(spark).count() == band_rows(_docs(spark, 0, 20)).count()
    dup = spark.createDataFrame(
        [(9000, _docs(spark, 0, 1).collect()[0].text)], ["doc_id", "text"]
    )
    assert (0, 9000) in {(r.doc_a, r.doc_b) for r in idx.add(dup).collect()}
    # a reopen in the current layout rewrites nothing
    v = idx.table.current_version()
    IncrementalLSHIndex(spark, path)
    assert idx.table.current_version() == v


def test_flat_index_is_rewritten_on_reopen(spark, tmp_path):
    """Migration: an unpartitioned index (the former default layout) is
    rewritten to the hive layout on reopen, twin included, and emits
    the same verified pairs as an index built in that layout."""
    import glob

    path = str(tmp_path / "flat")
    _legacy_index(spark, path, [(0, 40), (40, 80)], n_buckets=0)
    assert not glob.glob(path + "/data/*/kb=*")
    idx = IncrementalLSHIndex(spark, path, bucket_cap=10**6, min_sim=0.5)
    manifest = idx.table.latest_manifest()
    assert manifest["partition_by"] == ["kb"] and len(manifest["files"]) == 1
    assert glob.glob(f"{path}/{manifest['files'][0]}/kb=*/*.parquet")
    assert int(idx.bydoc.latest_metrics()["main_version"]) == idx.table.current_version()
    assert idx.table.read(spark).columns == ["doc_id", "band", "band_key"]

    fresh = IncrementalLSHIndex(spark, str(tmp_path / "fresh"), bucket_cap=10**6, min_sim=0.5)
    for lo, hi in [(0, 40), (40, 80)]:
        fresh.add(_docs(spark, lo, hi))

    def pairs(index):
        return {
            (r.doc_a, r.doc_b, r.est_jaccard)
            for r in index.add(_docs(spark, 80, 120)).collect()
        }

    got = pairs(idx)
    assert got == pairs(fresh) and got


def test_partitioned_compaction_preserves_layout_and_results(spark, tmp_path):
    """Index compaction must keep the hive layout (a flat rewrite would
    make pruned reads silently miss the whole corpus — pruned_paths
    fails loudly on such a mix) and change no answers."""
    import glob
    import os

    import pytest

    path = str(tmp_path / "lshc")
    idx = IncrementalLSHIndex(spark, path, bucket_cap=10**6)
    for lo, hi in [(0, 40), (40, 80), (80, 120)]:
        idx.add(_docs(spark, lo, hi))
    dirs_before = {os.path.dirname(f) for f in glob.glob(path + "/data/*/kb=*/*.parquet")}
    data_dirs_before = set(glob.glob(path + "/data/*"))
    idx.compact()
    data_dirs_after = {
        os.path.dirname(os.path.dirname(f))
        for f in glob.glob(path + "/data/*/kb=*/*.parquet")
    }
    # one compacted dir now holds the live table; hive layout intact
    live = idx.table.latest_manifest()["files"]
    assert len(live) == 1
    assert glob.glob(path + f"/data/{os.path.basename(live[0].split('/')[-1])}/kb=*")

    # answers unchanged after compaction
    dup = spark.createDataFrame(
        [(9000, _docs(spark, 0, 1).collect()[0].text)], ["doc_id", "text"]
    )
    pairs = {(r.doc_a, r.doc_b) for r in idx.add(dup).collect()}
    assert (0, 9000) in pairs

    # the loud-failure guard: a FLAT rewrite of a partitioned table
    # breaks pruned reads with an explicit error, never silence
    flat = idx.table.read(spark)
    idx.table.overwrite(flat, metrics={"n_buckets": 16})
    with pytest.raises(ValueError, match="no kb= partitions"):
        idx.add(dup)


def test_empty_batch_does_not_poison_partitioned_layout(spark, tmp_path):
    """An all-filtered batch (the real-fetcher case: every caption is
    null) must not break later pruned reads: empty adds commit nothing,
    and pruned_paths skips genuinely empty data dirs (only a dir WITH
    rows and no hive subdirs is a layout violation)."""
    path = str(tmp_path / "lshe")
    idx = IncrementalLSHIndex(spark, path, bucket_cap=10**6)
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert idx.add(empty).count() == 0
    assert idx.table.current_version() == 0  # no manifest churn

    idx.add(_docs(spark, 0, 30))
    # an empty PARTITIONED commit forced through the raw table API
    # (e.g. an older writer) must be skipped by pruning, not fatal
    idx.table.append(
        spark.createDataFrame([], "doc_id long, band int, band_key string, kb int"),
        metrics={"n_buckets": 16},
        partition_by=["kb"],
    )
    dup = spark.createDataFrame(
        [(9000, _docs(spark, 0, 1).collect()[0].text)], ["doc_id", "text"]
    )
    pairs = {(r.doc_a, r.doc_b) for r in idx.add(dup).collect()}
    assert (0, 9000) in pairs
