"""Minimum end-to-end slice (SURVEY.md §7): given the seed list, emit
the fetch log in reference order with the exact URL-seen set — the
BASELINE metric — zero network, zero HTML.

The oracle mirrors the reference's driver loop semantics
(download_filings.py:116-183): rows iterated in index-file order,
skipped when html_index already appears in the old metadata
(download_filings.py:151-158)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from edgar_crawler_spark.fixtures.payload import make_payload_row, reference_pixels
from edgar_crawler_spark.fixtures.seed_index import previously_crawled_df, seed_index_df
from edgar_crawler_spark.frontier.frontier import CrawlFrontier
from edgar_crawler_spark.functions.imaging import decode_image, psnr

N = 400


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("frontier"))
    fr = CrawlFrontier(spark, wd, rate_per_host=10.0, virtual_clock=True)
    old = previously_crawled_df(spark, N)
    fr.bootstrap_seen(old)
    seed = seed_index_df(spark, N)
    admitted = fr.submit(seed)
    metrics = fr.run()
    return fr, seed, old, admitted, metrics


def _expected_new_rows(spark, seed, old):
    seed_pd = seed.toPandas().sort_values("row_seq")
    seen = set(old.toPandas()["html_index"])
    return seed_pd[~seed_pd["html_index"].isin(seen)]


def test_admission_matches_reference_dedup(spark, run):
    fr, seed, old, admitted, _ = run
    assert admitted == len(_expected_new_rows(spark, seed, old))


def test_crawl_order_exact_match(spark, run):
    fr, seed, old, _, _ = run
    expected = _expected_new_rows(spark, seed, old)
    log = fr.fetch_log().toPandas()
    assert list(log["row_seq"]) == list(expected["row_seq"])
    assert list(log["html_index"]) == list(expected["html_index"])


def test_all_rows_eventually_fetched_with_retries(run):
    fr, *_ = run
    log = fr.fetch_log().toPandas()
    assert (log["state"] == "fetched").all()
    # injected faults (i%37, i%101) must show attempts > 1
    faulty = log[(log["row_seq"] % 37 == 0) | (log["row_seq"] % 101 == 0)]
    assert len(faulty) > 0 and (faulty["attempts"] > 1).all()


def test_url_seen_set_exact_match(spark, run):
    fr, seed, old, _, _ = run
    expected = set(old.toPandas()["html_index"]) | set(
        _expected_new_rows(spark, seed, old)["html_index"]
    )
    got = set(fr.seen_set().toPandas()["canonical_url"])
    assert got == expected


def test_politeness_budget_respected(run):
    """Virtual-clock waits must reflect the 10 req/s budget: a host
    with k queued rows needs >= (k - burst)/rate seconds of waiting."""
    fr, *_ = run
    log = fr.fetch_log().toPandas()
    per_host = log.groupby("host").agg(n=("row_seq", "size"), waited=("wait_s", "sum"))
    hot = per_host.sort_values("n").iloc[-1]
    assert hot["n"] >= 100  # host0 really is hot
    assert hot["waited"] >= (hot["n"] - 10) / 10.0 * 0.99


def test_payload_invariants_pixel_and_caption(spark, run):
    """input_hint per-row invariant: decoded-pixel allclose
    (PSNR>=40dB lossy, exact for png) + caption equality."""
    fr, *_ = run
    rows = fr.payload.read(spark).limit(500).toPandas()
    assert len(rows) > 0
    for _, r in rows.sample(min(25, len(rows)), random_state=0).iterrows():
        i = int(r["image_id"].split("-")[-1])
        ref = make_payload_row(i)
        assert r["caption"] == ref["caption"]
        px = decode_image(bytes(r["bytes"]))
        src = reference_pixels(i)
        if ref["fmt"] == "png":
            assert np.array_equal(px, src)
        else:
            assert psnr(src, px) >= 40.0


def test_resume_idempotent(spark, run):
    """Re-submitting the same seed after a completed run admits 0 rows
    and a further run() drains immediately (kill-and-resume safety)."""
    fr, seed, *_ = run
    assert fr.submit(seed) == 0
    assert fr.run(max_waves=1) == []
