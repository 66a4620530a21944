"""IncrementalIVFIndex: persisted partition-pruned ANN over embeddings
must serve exactly what the one-shot ivf_topk serves over the union of
all ingested batches, with query batches planning only touched
partition directories."""

import glob

import pytest

from edgar_crawler_spark.operators.dedup import INDEX_BUCKETS
from edgar_crawler_spark.operators.similarity import (
    IncrementalIVFIndex,
    ivf_centroids,
    ivf_topk,
)


def _emb(spark, sf="/root/testdata/sf0.01"):
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def test_ivf_index_matches_batch_operator(spark, tmp_path):
    emb = _emb(spark)
    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")

    idx = IncrementalIVFIndex(spark, str(tmp_path / "ivf"), n_cells=8, dim=64)
    assert idx.add(half_a) == half_a.count()
    assert idx.add(half_b) == half_b.count()

    qids = [0, 1, 2, 3, 4, 5]
    queries = emb.filter(emb.vec_id.isin(qids))
    for nprobe in (1, 3):
        got = sorted(map(tuple, idx.topk(queries, k=5, nprobe=nprobe).collect()))
        want = sorted(
            map(tuple, ivf_topk(emb, qids, k=5, nprobe=nprobe).collect())
        )
        assert got == want and len(got) == 30


def test_ivf_index_prunes_partitions_and_reopens(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    IncrementalIVFIndex(spark, path, n_cells=8, dim=64).add(emb)

    # a fresh handle over the same path serves without re-ingesting
    idx2 = IncrementalIVFIndex(spark, path, n_cells=8, dim=64)
    one = emb.filter("vec_id = 7")
    out = idx2.topk(one, k=3, nprobe=1).collect()
    assert len(out) == 3 and all(r.query_id == 7 for r in out)

    # nprobe=1 single query → exactly one touched bucket
    probes = {
        int(c) % INDEX_BUCKETS
        for r in __import__(
            "edgar_crawler_spark.operators.similarity", fromlist=["assign_cells_broadcast"]
        ).assign_cells_broadcast(one, idx2.cents, nprobe=1).select("cells").collect()
        for c in r.cells
    }
    scanned = idx2.vectors.pruned_paths("kb", sorted(probes))
    total = {
        d.rsplit("/", 1)[0] + "/" + d.rsplit("/", 1)[1]
        for d in (
            p.rsplit("/", 1)[0]
            for p in glob.glob(path + "/vectors/data/*/kb=*/*.parquet")
        )
    }
    assert 0 < len(scanned) < len(total)

    # quantizer freeze: different centroids must fail loudly
    other = [[float(x + 1) for x in c] for c in ivf_centroids(8, 64)]
    with pytest.raises(ValueError, match="different centroids"):
        IncrementalIVFIndex(spark, path, cents=other)


def test_ivf_index_replayed_add_is_neutralized(spark, tmp_path):
    """A crash-replayed batch re-appends identical rows; serving must
    not emit duplicate neighbors."""
    emb = _emb(spark)
    idx = IncrementalIVFIndex(spark, str(tmp_path / "ivf"), n_cells=8, dim=64)
    batch = emb.filter("vec_id < 100")
    idx.add(batch)
    idx.add(batch)  # replay
    queries = emb.filter("vec_id = 3")
    out = idx.topk(queries, k=5, nprobe=8).collect()
    neighbors = [r.neighbor_id for r in out]
    assert len(neighbors) == len(set(neighbors)) == 5


def test_ivf_index_compaction_preserves_layout_and_results(spark, tmp_path):
    emb = _emb(spark)
    idx = IncrementalIVFIndex(spark, str(tmp_path / "ivf"), n_cells=8, dim=64)
    idx.add(emb.filter("vec_id % 2 = 0"))
    idx.add(emb.filter("vec_id % 2 = 1"))
    idx.add(emb.filter("vec_id % 2 = 1"))  # replayed commit
    queries = emb.filter(emb.vec_id.isin([0, 1, 2]))
    before = sorted(map(tuple, idx.topk(queries, k=5, nprobe=3).collect()))

    idx.compact()
    assert len(idx.vectors.latest_manifest()["files"]) == 1
    after = sorted(map(tuple, idx.topk(queries, k=5, nprobe=3).collect()))
    assert after == before


def test_ivf_index_with_trained_minibatch_quantizer(spark, tmp_path):
    """The production train→ingest→serve shape: mini-batch-train the
    quantizer, build the index under it, serve; a reopen WITHOUT cents
    inherits the stored quantizer bit-exactly."""
    from edgar_crawler_spark.operators.similarity import kmeans_refine_minibatch

    emb = _emb(spark, "/root/testdata/sf0.001")
    cents, _ = kmeans_refine_minibatch(emb, iterations=2, fraction=0.5)
    path = str(tmp_path / "ivf_trained")
    idx = IncrementalIVFIndex(spark, path, cents=cents)
    idx.add(emb)
    qids = [r.vec_id for r in emb.select("vec_id").limit(3).collect()]
    out = idx.topk(emb.filter(f"vec_id in ({','.join(map(str, qids))})"), k=3).toPandas()
    assert set(out.query_id) == set(qids)
    assert (out.groupby("query_id").size() <= 3).all()
    assert (out.query_id != out.neighbor_id).all()

    idx2 = IncrementalIVFIndex(spark, path)
    assert idx2.cents == cents


def test_ivf_recall_curve_bounds(spark):
    """Retrieval-quality evidence (r04 verdict item 4): recall@k vs
    brute force is monotone nondecreasing in nprobe, exactly 1.0 when
    every cell is probed, and a TRAINED quantizer beats the
    deterministic seed at the mid-curve probe counts."""
    from edgar_crawler_spark.operators.similarity import (
        ivf_recall_curve,
        kmeans_refine,
    )

    emb = _emb(spark)
    qids = list(range(24))
    cents, _ = kmeans_refine(emb, n_cells=16, dim=64, iterations=2)
    trained = {
        r["nprobe"]: r["recall_at_k"]
        for r in ivf_recall_curve(
            emb, qids, k=10, n_cells=16, nprobes=(1, 2, 4, 8, 16), cents=cents
        ).collect()
    }
    seed = {
        r["nprobe"]: r["recall_at_k"]
        for r in ivf_recall_curve(
            emb, qids, k=10, n_cells=16, nprobes=(2, 4, 8)
        ).collect()
    }
    curve = [trained[p] for p in (1, 2, 4, 8, 16)]
    assert curve == sorted(curve)  # monotone in nprobe
    assert trained[16] == 1.0  # all cells probed == brute force
    assert trained[1] > 0.0
    # the trained quantizer concentrates neighbours: at least as good
    # as the seed at every mid-curve probe count, strictly better
    # somewhere
    assert all(trained[p] >= seed[p] for p in (2, 4, 8))
    assert any(trained[p] > seed[p] for p in (2, 4, 8))
