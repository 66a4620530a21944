"""Each admission fact is computed once: the Bloom probe runs once per
anti-join, and a wave re-filters pending against seen only when seen
moved since pending was written (the ``seen_version`` stamp)."""

import pyspark.sql.functions as F
import pytest

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier import frontier as frontier_mod
from edgar_crawler_spark.frontier.canonical import with_url_identity
from edgar_crawler_spark.frontier.frontier import CrawlFrontier
from edgar_crawler_spark.frontier.seen import BloomFilterTable, url_seen_anti_join

N_PRIOR, N_SEEDS = 30, 60


@pytest.fixture
def anti_join_calls(monkeypatch):
    calls = {"n": 0}
    orig = frontier_mod.url_seen_anti_join

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(frontier_mod, "url_seen_anti_join", counting)
    return calls


def _frontier(spark, tmp_path) -> CrawlFrontier:
    """Seen holds the first N_PRIOR seeds; N_SEEDS - N_PRIOR are pending."""
    fr = CrawlFrontier(spark, str(tmp_path / "wd"), wave_quota=100)
    fr.bootstrap_seen(seed_index_df(spark, N_PRIOR))
    assert fr.submit(seed_index_df(spark, N_SEEDS)) == N_SEEDS - N_PRIOR
    return fr


def _assert_log_exact(fr, n):
    log = fr.fetch_log().toPandas()
    assert len(log) == n
    assert log["canonical_url"].duplicated().sum() == 0
    assert (log["state"] == "fetched").all()


def test_submit_then_run_filters_once(spark, tmp_path, anti_join_calls):
    """The pending rows submit() just filtered are not filtered again by
    the first wave: one anti-join for the whole submit + run."""
    fr = CrawlFrontier(spark, str(tmp_path / "wd"), wave_quota=10)
    fr.bootstrap_seen(seed_index_df(spark, N_PRIOR))
    anti_join_calls["n"] = 0
    assert fr.submit(seed_index_df(spark, N_SEEDS)) == N_SEEDS - N_PRIOR
    assert len(fr.run()) > 1  # several waves, none re-filters
    assert anti_join_calls["n"] == 1
    _assert_log_exact(fr, N_SEEDS - N_PRIOR)
    # every wave commit stamps the seen version of its own seen append
    assert fr.pending.latest_metrics()["seen_version"] == fr.seen.current_version()


def _invalidate(spark, fr):
    # drop 5 prior URLs from seen: they stay out of pending, so nothing
    # extra is fetched, but seen moved
    fr.invalidate(seed_index_df(spark, 5))


def _compact(spark, fr):
    fr.compact()


def _seen_append(spark, fr):
    # the crash window between a wave's seen append and its pending
    # overwrite: 5 pending URLs reach seen (filter first, as a wave
    # does) while pending still lists them
    rows = (
        fr.pending.read(spark)
        .orderBy("row_seq")
        .limit(5)
        .select("url_hash", "canonical_url", F.lit(99).cast("long").alias("first_seen_version"))
    )
    fr.seen_filter.update(rows)
    fr.seen.append(rows)
    return 5


def _unstamped(spark, fr):
    fr.pending.overwrite(fr.pending.read(spark))


@pytest.mark.parametrize(
    "move", [_invalidate, _compact, _seen_append, _unstamped], ids=lambda f: f.__name__[1:]
)
def test_wave_refilters_only_after_seen_moved(spark, tmp_path, anti_join_calls, move):
    fr = _frontier(spark, tmp_path)
    already_seen = move(spark, fr) or 0
    anti_join_calls["n"] = 0
    assert len(fr.run(max_waves=1)) == 1
    assert anti_join_calls["n"] == 1  # the wave after the move re-filters
    assert fr.run(max_waves=1) == []  # drained; its own commit's stamp holds
    assert anti_join_calls["n"] == 1
    _assert_log_exact(fr, N_SEEDS - N_PRIOR - already_seen)


def test_drain_writes_no_second_empty_pending(spark, tmp_path):
    """The pipelined drain does not overwrite pending again after the
    last wave's commit already wrote the empty remainder."""
    fr = _frontier(spark, tmp_path)
    waves = fr.run()
    assert len(waves) == 1
    assert fr.pending.latest_manifest()["metrics"]["wave"] == 1
    # a run that commits nothing still clears what it re-filtered away
    _seen_append(spark, fr)
    v = fr.pending.current_version()
    assert fr.run() == []
    assert fr.pending.current_version() == v + 1
    assert fr.pending.latest_metrics()["seen_version"] == fr.seen.current_version()


def test_drained_rerun_commits_nothing(spark, tmp_path, anti_join_calls):
    """A run over a drained frontier whose pending stamp is seen's
    current version neither re-filters nor writes another (empty)
    pending snapshot: reruns on a drained workdir commit nothing."""
    fr = _frontier(spark, tmp_path)
    assert len(fr.run()) == 1
    v, seen_v = fr.pending.current_version(), fr.seen.current_version()
    anti_join_calls["n"] = 0
    assert fr.run() == []
    assert CrawlFrontier(spark, str(tmp_path / "wd"), wave_quota=100).run() == []
    assert fr.pending.current_version() == v
    assert fr.seen.current_version() == seen_v
    assert anti_join_calls["n"] == 0
    _assert_log_exact(fr, N_SEEDS - N_PRIOR)


def test_drained_rerun_starts_no_job(spark, tmp_path):
    """A drained pending snapshot records 0 rows and a current stamp,
    so a rerun answers from the manifest: no fetch phase, no Spark job,
    on this frontier and on one reopened over the same workdir."""
    fr = _frontier(spark, tmp_path)
    assert len(fr.run()) == 1
    assert fr.pending.latest_manifest()["rows"] == 0
    reopened = CrawlFrontier(spark, str(tmp_path / "wd"), wave_quota=100)
    sc = spark.sparkContext
    sc.setJobGroup("drained-rerun", "rerun of a drained frontier")
    try:
        assert fr.run() == []
        assert reopened.run() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("drained-rerun") == []


def _plan_node_names_since(spark, before: int) -> list[str]:
    """Operator names of every SQL execution after id ``before``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    names = []
    for i in range(execs.size() - 1, -1, -1):
        eid = execs.apply(i).executionId()
        if eid <= before:
            break
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            names.append(nodes.next().name())
    return names


def _last_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def test_anti_join_probes_each_candidate_once(spark):
    """The definitely-new and suspect branches share one evaluation of
    the pandas probe: across every plan the anti-join executes there is
    exactly one FlatMapCoGroupsInPandas, and the result stays exact."""
    ids = with_url_identity(seed_index_df(spark, 600))
    seen = ids.filter(F.col("row_seq") % 3 == 0)
    bloom = BloomFilterTable.build(seen, num_shards=8)
    bloom.df.count()
    before = _last_execution_id(spark)
    got = sorted(r.row_seq for r in url_seen_anti_join(ids, seen, bloom=bloom).collect())
    assert _plan_node_names_since(spark, before).count("FlatMapCoGroupsInPandas") == 1
    assert got == [i for i in range(600) if i % 3]


def _file_scans_since(spark, before: int) -> int:
    """SQL executions after id ``before`` whose parquet scan read at
    least one file (a scan under a cache hit reads none)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    n = 0
    for i in range(execs.size() - 1, -1, -1):
        eid = execs.apply(i).executionId()
        if eid <= before:
            break
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        read = False
        while nodes.hasNext():
            node = nodes.next()
            if not node.name().startswith("Scan parquet"):
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                v = values.get(m.accumulatorId())
                if m.name() == "number of files read" and v.isDefined() and v.get() != "0":
                    read = True
        n += read
    return n


def test_bootstrap_scans_metadata_once(spark, tmp_path):
    """bootstrap_seen evaluates its rows once: the count, the filter
    update and the seen append share one scan of the metadata (the
    only parquet a bootstrap into a new workdir reads)."""
    path = str(tmp_path / "metadata")
    seed_index_df(spark, N_PRIOR).write.parquet(path)
    metadata = spark.read.parquet(path)
    fr = CrawlFrontier(spark, str(tmp_path / "wd"))
    before = _last_execution_id(spark)
    assert fr.bootstrap_seen(metadata) == N_PRIOR
    assert _file_scans_since(spark, before) == 1
    assert fr.seen_set().count() == N_PRIOR
    assert fr.seen_filter.table.read(spark).agg(F.sum("n_items")).first()[0] == N_PRIOR
