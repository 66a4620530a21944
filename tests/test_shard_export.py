"""WebDataset-style training-shard export: byte-determinism (the
sha256 is a content address), member round-trip against the payload
table in exact pack order, manifest consistency, and the streamed
file materialization (content-addressed skip, orphan reconcile)."""

import io
import tarfile

import pytest


@pytest.fixture(scope="module")
def exported(spark):
    from edgar_crawler_spark.fixtures.payload import payload_df
    from edgar_crawler_spark.operators.multimodal import pack_image_batches
    from edgar_crawler_spark.sources.shard_export import export_training_shards

    pay = payload_df(spark, 300)
    asg = pack_image_batches(
        pay, buckets=[(32, 32), (32, 16), (16, 32)],
        batch_px_budget=8192, n_shards=4,
    )
    shards = export_training_shards(pay, asg).toPandas()
    return pay.toPandas().set_index("image_id"), asg.toPandas(), shards


def test_every_item_lands_exactly_once(exported):
    pay, asg, shards = exported
    assert shards.n_items.sum() == len(pay)
    keys = set()
    for tb in shards.tar_bytes:
        with tarfile.open(fileobj=io.BytesIO(bytes(tb))) as tf:
            for m in tf.getnames():
                if m.endswith(".txt"):
                    continue
                keys.add(m.rsplit(".", 1)[0].split("_", 1)[1])
    assert keys == set(pay.index)


def test_members_roundtrip_bytes_captions_and_order(exported):
    from edgar_crawler_spark.operators.hashing import h48_py

    pay, asg, shards = exported
    for row in shards.itertuples():
        with tarfile.open(fileobj=io.BytesIO(bytes(row.tar_bytes))) as tf:
            names = tf.getnames()
            img_members = [n for n in names if not n.endswith(".txt")]
            # pack order: (batch_idx, H48(id), id), encoded in the key
            parsed = [
                (n.rsplit(".", 1)[0].split("_", 1)) for n in img_members
            ]
            order = [(int(b), h48_py(i), i) for b, i in parsed]
            assert order == sorted(order)
            assert parsed[0][1] == row.first_id
            assert parsed[-1][1] == row.last_id
            for n in img_members:
                key = n.rsplit(".", 1)[0]
                iid = key.split("_", 1)[1]
                assert tf.extractfile(n).read() == bytes(pay.loc[iid, "bytes"])
                cap = tf.extractfile(key + ".txt").read().decode()
                assert cap == pay.loc[iid, "caption"]


def test_reexport_is_byte_identical(spark, exported):
    from edgar_crawler_spark.fixtures.payload import payload_df
    from edgar_crawler_spark.operators.multimodal import pack_image_batches
    from edgar_crawler_spark.sources.shard_export import export_training_shards

    _, _, shards = exported
    pay = payload_df(spark, 300)
    asg = pack_image_batches(
        pay, buckets=[(32, 32), (32, 16), (16, 32)],
        batch_px_budget=8192, n_shards=4,
    )
    again = export_training_shards(pay, asg).toPandas()
    a = shards.set_index(["bucket_idx", "shard"]).sha256.sort_index()
    b = again.set_index(["bucket_idx", "shard"]).sha256.sort_index()
    assert (a == b).all()


def test_write_shard_files_layout(spark, tmp_path):
    import glob
    import os

    from edgar_crawler_spark.fixtures.payload import payload_df
    from edgar_crawler_spark.operators.multimodal import pack_image_batches
    from edgar_crawler_spark.sources.shard_export import (
        export_training_shards,
        write_shard_files_streamed,
    )

    def counts(res):
        return {k: res[k] for k in ("written", "skipped", "removed_orphans")}

    pay = payload_df(spark, 100)
    asg = pack_image_batches(
        pay, buckets=[(32, 32)], batch_px_budget=8192, n_shards=2,
    )
    root = str(tmp_path / "wds")
    first = write_shard_files_streamed(pay, asg, root)
    files = sorted(glob.glob(os.path.join(root, "bucket*", "shard-*.tar")))
    n = export_training_shards(pay, asg).count()
    assert len(files) == n
    assert counts(first) == {"written": n, "skipped": 0, "removed_orphans": 0}
    with tarfile.open(files[0]) as tf:
        assert len(tf.getnames()) > 0
    # content-addressed re-materialization: second pass skips everything
    again = write_shard_files_streamed(pay, asg, root)
    assert counts(again) == {"written": 0, "skipped": n, "removed_orphans": 0}
    # corrupt one sidecar -> exactly that shard rewrites
    side = files[0] + ".sha256"
    with open(side, "w") as f:
        f.write("bogus")
    third = write_shard_files_streamed(pay, asg, root)
    assert counts(third) == {"written": 1, "skipped": n - 1, "removed_orphans": 0}
    # orphan reconcile: a stale tar from a dropped (bucket, shard) group
    # is deleted (with its sidecar) by the next materialization
    ghost = os.path.join(os.path.dirname(files[0]), "shard-09999.tar")
    with open(ghost, "wb") as f:
        f.write(b"stale")
    with open(ghost + ".sha256", "w") as f:
        f.write("stale")
    fourth = write_shard_files_streamed(pay, asg, root)
    assert counts(fourth) == {"written": 0, "skipped": n, "removed_orphans": 1}
    assert not os.path.exists(ghost) and not os.path.exists(ghost + ".sha256")


def test_text_shards_roundtrip_and_determinism(spark):
    import gzip
    import json

    from edgar_crawler_spark.operators.text import pack_sequences
    from edgar_crawler_spark.sources.shard_export import export_text_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    asg = pack_sequences(docs, max_tokens=512, n_shards=4)
    one = export_text_shards(docs, asg).toPandas()
    two = export_text_shards(docs, asg).toPandas()
    a = one.set_index("shard").sha256.sort_index()
    b = two.set_index("shard").sha256.sort_index()
    assert (a == b).all()  # byte-identical re-export
    ref = docs.toPandas().set_index("doc_id")
    seen = 0
    for row in one.itertuples():
        lines = gzip.decompress(bytes(row.jsonl_gz)).decode().splitlines()
        assert len(lines) == row.n_docs
        recs = [json.loads(ln) for ln in lines]
        bins = [r["bin"] for r in recs]
        assert bins == sorted(bins)  # pack order
        assert str(recs[0]["id"]) == row.first_id
        assert str(recs[-1]["id"]) == row.last_id
        for r in recs:
            assert r["text"] == ref.loc[r["id"], "text"]
            seen += 1
    assert seen == len(ref)


def test_streamed_export_matches_inrow_and_skips(spark, tmp_path, exported):
    """The streaming writer must produce byte-identical tars (same
    sha256 content addresses) as the in-row builder, skip unchanged
    shards on re-run, and reconcile orphans/tmp leftovers."""
    import os

    from edgar_crawler_spark.fixtures.payload import payload_df
    from edgar_crawler_spark.operators.multimodal import pack_image_batches
    from edgar_crawler_spark.sources.shard_export import write_shard_files_streamed

    _, _, shards = exported
    pay = payload_df(spark, 300)
    asg = pack_image_batches(
        pay, buckets=[(32, 32), (32, 16), (16, 32)],
        batch_px_budget=8192, n_shards=4,
    )
    root = str(tmp_path / "wds_stream")
    res = write_shard_files_streamed(pay, asg, root)
    got = {(r["bucket_idx"], r["shard"]): r["sha256"] for r in res["shards"]}
    want = {
        (int(r.bucket_idx), int(r.shard)): r.sha256 for r in shards.itertuples()
    }
    assert got == want  # identical content addresses as the in-row path
    n = len(got)
    assert res["written"] == n and res["skipped"] == 0
    # on-disk bytes hash to the sidecar address
    import glob
    import hashlib

    for f in glob.glob(os.path.join(root, "bucket*", "shard-*.tar")):
        with open(f, "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == open(f + ".sha256").read().strip()
    # second pass: everything skips (hash-only pass, no writes)
    res2 = write_shard_files_streamed(pay, asg, root)
    assert res2["written"] == 0 and res2["skipped"] == n
    # stale tmp + orphan cleanup
    bdir = os.path.dirname(glob.glob(os.path.join(root, "bucket*", "*.tar"))[0])
    open(os.path.join(bdir, "shard-09999.tar"), "wb").write(b"x")
    open(os.path.join(bdir, "shard-00000.tar.tmp"), "wb").write(b"y")
    res3 = write_shard_files_streamed(pay, asg, root)
    assert res3["removed_orphans"] == 1
    assert not os.path.exists(os.path.join(bdir, "shard-09999.tar"))
    assert not os.path.exists(os.path.join(bdir, "shard-00000.tar.tmp"))


def test_streamed_export_empty_manifest_never_wipes(spark, tmp_path):
    """An export run that yields ZERO shards must not reconcile away a
    previously exported corpus (empty-slice / over-aggressive-gate
    safety)."""
    import os

    from edgar_crawler_spark.fixtures.payload import payload_df
    from edgar_crawler_spark.operators.multimodal import pack_image_batches
    from edgar_crawler_spark.sources.shard_export import write_shard_files_streamed

    pay = payload_df(spark, 60)
    asg = pack_image_batches(pay, buckets=[(32, 32)], batch_px_budget=8192, n_shards=2)
    root = str(tmp_path / "wds_guard")
    first = write_shard_files_streamed(pay, asg, root)
    assert first["written"] > 0
    import glob
    n_tars = len(glob.glob(os.path.join(root, "bucket*", "*.tar")))
    # empty slice: no payload rows survive the join
    empty = pay.filter("image_id = 'no-such-id'")
    res = write_shard_files_streamed(empty, asg, root)
    assert res == {"written": 0, "skipped": 0, "removed_orphans": 0, "shards": []}
    assert len(glob.glob(os.path.join(root, "bucket*", "*.tar"))) == n_tars
