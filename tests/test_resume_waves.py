"""Wave numbers continue across frontier instances: a resumed crawl
numbers its waves after the last wave the seen table committed, so the
log's ``wave`` column and the manifests never repeat a number."""

import pytest

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.frontier import CrawlFrontier


@pytest.mark.parametrize("compact_between", [False, True])
def test_resumed_frontier_continues_wave_numbers(spark, tmp_path, compact_between):
    wd = str(tmp_path / "wd")
    first = CrawlFrontier(spark, wd, wave_quota=5)
    first.submit(seed_index_df(spark, 40, n_hosts=4, hot_host=False))
    assert [m["wave"] for m in first.run(max_waves=2)] == [1, 2]
    if compact_between:
        first.compact()

    resumed = CrawlFrontier(spark, wd, wave_quota=5)
    resumed.submit(seed_index_df(spark, 60, n_hosts=4, hot_host=False))
    waves = [m["wave"] for m in resumed.run()]
    assert waves and waves[0] == 3
    assert waves == list(range(3, 3 + len(waves)))

    log_waves = sorted({r.wave for r in resumed.fetch_log().select("wave").collect()})
    assert log_waves == list(range(1, 3 + len(waves)))
    seen_waves = [m["metrics"]["wave"] for m in resumed.seen.history() if "wave" in m["metrics"]]
    assert len(seen_waves) == len(set(seen_waves))
