"""Real-network integration: the full frontier loop against an actual
HTTP server on a real socket (loopback), using the production
``http_fetcher_factory`` (requests + urllib3 Retry — the reference's
N1 session, download_filings.py:805-848) instead of the stub.

Covers what the injected-fault unit tests can't: the requests session's
internal retry on 503 (transparent to the scheduler), the throttle-
banner outer loop over a real connection (N2, download_filings.py:
486-509), User-agent header transmission (N4, download_filings.py:182),
and byte-identical payload delivery through a socket into the Arrow
decode path.
"""

from __future__ import annotations

import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
import pyspark.sql.functions as F

from edgar_crawler_spark.fixtures.payload import make_payload_row
from edgar_crawler_spark.fixtures.seed_index import seed_index_df
from edgar_crawler_spark.frontier.fetch import http_fetcher_factory
from edgar_crawler_spark.frontier.frontier import CrawlFrontier
from edgar_crawler_spark.frontier.politeness import THROTTLE_BANNER

N = 40
FLAKY_I = 7  # 503 on first hit, 200 after (requests Retry handles it)
THROTTLE_I = 11  # HTTP 200 + throttle banner on first hit (outer loop)
UA = "edgar-crawler-spark-test test@example.com"
_ACC = re.compile(r"/(\d{10}-\d{2}-(\d{6}))-index\.html$")


class _Handler(BaseHTTPRequestHandler):
    hits: dict[str, int] = {}
    agents: list[str] = []
    lock = threading.Lock()

    def do_GET(self):  # noqa: N802 (http.server API)
        with _Handler.lock:
            _Handler.hits[self.path] = _Handler.hits.get(self.path, 0) + 1
            _Handler.agents.append(self.headers.get("User-agent"))
            hit = _Handler.hits[self.path]
        m = _ACC.search(self.path)
        if not m:
            self.send_response(404)
            self.end_headers()
            return
        i = int(m.group(2))
        if i == FLAKY_I and hit == 1:
            self.send_response(503)
            self.end_headers()
            return
        if i == THROTTLE_I and hit == 1:
            body = THROTTLE_BANNER.encode()
        else:
            body = bytes(make_payload_row(i)["bytes"])
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # silence per-request stderr noise
        pass


@pytest.fixture(scope="module")
def http_server():
    _Handler.hits = {}
    _Handler.agents = []
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1]
    srv.shutdown()
    t.join(timeout=5)


def _localhost_seeds(spark, port: int):
    """2022-Q1-shaped seeds with every URL rewritten onto the loopback
    server (host_col collapses them to one host → one serial politeness
    queue, which is fine at N=40)."""
    return seed_index_df(spark, N, n_hosts=4, hot_host=False).withColumn(
        "html_index",
        F.regexp_replace("html_index", r"^https://[^/]+", f"http://127.0.0.1:{port}"),
    )


def test_frontier_over_real_http(spark, tmp_path, http_server):
    port = http_server
    fr = CrawlFrontier(
        spark,
        str(tmp_path / "wd"),
        fetcher=http_fetcher_factory(UA),
        rate_per_host=10_000.0,  # keep the single-host queue fast
        virtual_clock=False,  # real wall-clock politeness + real sockets
        wave_quota=10**9,
    )
    admitted = fr.submit(_localhost_seeds(spark, port))
    assert admitted == N
    fr.run()

    log = fr.fetch_log().collect()
    assert len(log) == N
    assert all(r["state"] == "fetched" for r in log)
    # crawl order over a real socket still == reference index order
    assert [r["row_seq"] for r in log] == sorted(r["row_seq"] for r in log)

    # N1: the 503 was retried INSIDE the requests session — the server
    # saw 2 hits, the scheduler saw one successful attempt
    flaky_path = next(p for p in _Handler.hits if f"-{FLAKY_I:06d}-index" in p)
    assert _Handler.hits[flaky_path] == 2
    flaky_row = next(r for r in log if r["canonical_url"].endswith(flaky_path))
    assert flaky_row["status"] == 200

    # N2: throttle banner triggered the outer re-fetch loop (2 scheduler
    # attempts → 2 server hits), final payload is the real image
    throttle_path = next(p for p in _Handler.hits if f"-{THROTTLE_I:06d}-index" in p)
    assert _Handler.hits[throttle_path] == 2
    throttle_row = next(r for r in log if r["canonical_url"].endswith(throttle_path))
    assert throttle_row["attempts"] == 2

    # N4: every request carried the configured User-agent
    assert set(_Handler.agents) == {UA}

    # payload invariant: bytes that crossed the socket decode to the
    # same dims/phash as the generator oracle (per-row parity)
    payload = {r["image_id"]: r for r in fr.payload.read(spark).collect()}
    assert len(payload) == N
    for i in range(N):
        ref = make_payload_row(i)
        got = payload[ref["image_id"]]
        assert got["decode_ok"] == "ok"
        assert (got["w"], got["h"]) == (ref["w"], ref["h"])
        assert bytes(got["bytes"]) == bytes(ref["bytes"])
        # generator phash is over ORIGINAL pixels; the table's is over
        # decoded pixels — exact for png, a few aHash bits for jpeg
        ham = bin(got["phash"] ^ ref["phash"]).count("1")
        assert ham == 0 if ref["fmt"] == "png" else ham <= 8


def test_http_resubmit_is_noop(spark, tmp_path, http_server):
    """Second submit of the same seed list over the same state dir
    admits nothing (URL-seen holds across real-network runs)."""
    port = http_server
    wd = str(tmp_path / "wd2")
    fr = CrawlFrontier(
        spark, wd, fetcher=http_fetcher_factory(UA),
        rate_per_host=10_000.0, virtual_clock=False, wave_quota=10**9,
    )
    assert fr.submit(_localhost_seeds(spark, port)) == N
    fr.run()
    fr2 = CrawlFrontier(
        spark, wd, fetcher=http_fetcher_factory(UA),
        rate_per_host=10_000.0, virtual_clock=False, wave_quota=10**9,
    )
    assert fr2.submit(_localhost_seeds(spark, port)) == 0
    assert fr2.run(max_waves=1) == []


OVERSIZE_DECLARED_I = 3  # Content-Length over the cap (pre-body abort)
OVERSIZE_STREAMED_I = 5  # no Content-Length; body streams past the cap


class _BigBodyHandler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802
        m = _ACC.search(self.path)
        i = int(m.group(2)) if m else -1
        if i == OVERSIZE_DECLARED_I:
            body = b"x" * (256 * 1024)
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        if i == OVERSIZE_STREAMED_I:
            # no Content-Length: the cap must trip mid-stream
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"y" * (256 * 1024))
            return
        body = bytes(make_payload_row(i)["bytes"])
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


def test_oversized_body_fails_row_not_worker(spark, tmp_path):
    """VERDICT r02 item 8: a pathological document larger than max_bytes
    becomes a terminal FAILED row (status -2, error recorded), never an
    OOM'd executor — and is not retried (re-downloading it would burn
    the budget on the same bytes)."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _BigBodyHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        fr = CrawlFrontier(
            spark,
            str(tmp_path / "wd"),
            fetcher=http_fetcher_factory(UA, max_bytes=64 * 1024),
            rate_per_host=10_000.0,
            virtual_clock=False,
            wave_quota=10**9,
        )
        n = 8
        assert fr.submit(_localhost_seeds(spark, port).limit(n)) == n
        fr.run()
        log = {r["row_seq"]: r for r in fr.fetch_log().collect()}
        assert len(log) == n
        for i in (OVERSIZE_DECLARED_I, OVERSIZE_STREAMED_I):
            assert log[i]["state"] == "failed"
            assert log[i]["status"] == -2
            assert "max_bytes" in log[i]["error"]
            assert log[i]["attempts"] == 1  # permanent: no retry
        ok = [r for q, r in log.items() if q not in (OVERSIZE_DECLARED_I, OVERSIZE_STREAMED_I)]
        assert all(r["state"] == "fetched" for r in ok)
    finally:
        srv.shutdown()
        t.join(timeout=5)
