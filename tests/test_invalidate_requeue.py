"""The invalidate/requeue path: drop URLs from the seen set, re-submit,
re-crawl exactly those; the Bloom filter is rebuilt from the rewritten
seen table, so it tracks seen exactly."""

import pyspark.sql.functions as F

from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.frontier import CrawlFrontier

N = 120


def _filter_items(fr, spark):
    return fr.seen_filter.table.read(spark).agg(F.sum("n_items").alias("s")).first()["s"]


def test_invalidate_then_resubmit_recrawls_exactly(spark, tmp_path):
    fr = CrawlFrontier(spark, str(tmp_path / "wd"))
    seed = seed_index_df(spark, N)
    assert fr.submit(seed) == N
    fr.run()
    assert fr.fetch_log().count() == N

    stale = seed.filter(F.col("row_seq") % 10 == 3)  # 12 rows
    n_stale = stale.count()
    assert fr.invalidate(stale) == n_stale
    assert fr.seen_set().count() == N - n_stale
    # the rebuilt filter counts exactly the seen rows (no stale items)
    assert _filter_items(fr, spark) == fr.seen_set().count()
    # idempotent: invalidating the same rows again removes nothing
    assert fr.invalidate(stale) == 0

    # resubmitting the full seed re-admits EXACTLY the invalidated rows
    assert fr.submit(seed) == n_stale
    fr.run()
    log = fr.fetch_log().toPandas()
    assert len(log) == N + n_stale  # the re-crawl appends new log rows
    assert fr.seen_set().count() == N

    # the filter still tracks seen exactly (no false negatives)
    pf = fr.seen_filter.read_filter(spark)
    flagged = pf.maybe_contains(fr.seen_set().select("url_hash"))
    assert flagged.filter(~F.col("bloom_maybe_seen")).count() == 0
