"""Permanent fetch failures: retried up to max_attempts waves, logged
with a terminal 'failed' disposition, excluded from payload. Terminal
failures DO enter seen (ADVICE r02): both terminal dispositions must
never re-dispatch — otherwise a crash between the seen append and the
pending overwrite re-admits exhausted URLs with reset attempts and
appends duplicate failed log rows on resume."""

import pyspark.sql.functions as F

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.fetch import stub_fetcher
from edgar_crawler_spark.frontier.frontier import CrawlFrontier


def test_permanent_failures_terminal(spark, tmp_path):
    # defined as a closure: cloudpickle ships it by value (a test-module
    # top-level function would pickle by reference and fail on workers)
    def flaky_forever_fetcher(url: str, attempt: int):
        import re

        m = re.search(r"-(\d{6})-index\.html$", url)
        if m and int(m.group(1)) % 10 == 0:
            return 503, None, None
        return stub_fetcher(url, attempt)

    n = 60
    fr = CrawlFrontier(
        spark, str(tmp_path / "w"), fetcher=flaky_forever_fetcher, max_attempts=3
    )
    fr.submit(seed_index_df(spark, n))
    waves = fr.run()
    assert len(waves) == 3  # initial + 2 requeue waves
    log = fr.fetch_log().toPandas()
    bad = log[log.row_seq % 10 == 0]
    good = log[log.row_seq % 10 != 0]
    assert (good.state == "fetched").all()
    # each failing URL appears once per attempt wave; final row 'failed'
    assert set(bad.groupby("row_seq").size()) == {3}
    final = bad.sort_values("wave").groupby("row_seq").last()
    assert (final.state == "failed").all()
    # both terminal dispositions enter seen (never re-dispatch);
    # payload rows exist only for fetched URLs
    seen = set(fr.seen_set().toPandas().canonical_url)
    assert seen == set(good.html_index) | set(bad.html_index)
    # resubmitting the same seeds admits nothing — failed is terminal
    assert fr.submit(seed_index_df(spark, n)) == 0
    payload_n = fr.payload.read(spark).count()
    assert payload_n == len(set(good.row_seq))


def test_crash_between_seen_and_pending_no_duplicate_failed_rows(spark, tmp_path):
    """ADVICE r02: crash AFTER the seen append but BEFORE the pending
    overwrite, with a permanently-failing fetcher. On resume the
    refiltered pending must drop the exhausted URLs (they are in seen
    now) — no re-dispatch, no duplicate failed log rows."""
    import pytest

    def always_fail_fetcher(url: str, attempt: int):
        return 503, None, None

    wd = str(tmp_path / "w")
    fr = CrawlFrontier(spark, wd, fetcher=always_fail_fetcher, max_attempts=1)
    fr.submit(seed_index_df(spark, 20))

    def crash(*a, **k):
        raise RuntimeError("injected crash before pending overwrite")

    fr.pending.overwrite = crash
    with pytest.raises(RuntimeError, match="injected crash"):
        fr.run()

    fr2 = CrawlFrontier(spark, wd, fetcher=always_fail_fetcher, max_attempts=1)
    assert fr2.run() == []  # nothing re-dispatches
    log = fr2.fetch_log().toPandas()
    assert len(log) == 20 and (log.state == "failed").all()
    assert log.row_seq.nunique() == 20  # exactly one terminal row per URL
