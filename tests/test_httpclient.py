"""The stdlib-HTTP deploy adapters (operators/httpclient.py) driven
end-to-end against a loopback ``http.server`` THROUGH the real
mapInPandas stages — fetch_extract, download_binaries,
refresh_robots_cache — so the executor Python workers make real TCP
requests (the server's hit counters live server-side, which is what
makes cross-process retry assertions possible). No external network.

Reference client semantics: app/util/download.py:26-147 (retry ladder,
streamed short-read detection)."""

from __future__ import annotations

import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from literature_crawler_spark.operators import download as dl
from literature_crawler_spark.operators import fetch as fe
from literature_crawler_spark.operators import httpclient as hc

BLOB = bytes(range(256)) * 40  # 10240 bytes


class _Handler(BaseHTTPRequestHandler):
    hits: Counter = Counter()
    lock = threading.Lock()

    def log_message(self, *a):  # quiet
        pass

    def _count(self) -> int:
        with self.lock:
            self.hits[self.path] += 1
            return self.hits[self.path]

    def do_GET(self):  # noqa: N802
        n = self._count()
        p = self.path
        if p.startswith("/page/"):
            body = (
                b"<html><head><title>Page T</title>"
                b'<meta property="og:image" content="/img/a.png">'
                b'</head><body><a href="/page/next">n</a>'
                b'<a href="http://other.example/x">x</a></body></html>'
            )
            self._ok(body, ctype="text/html; charset=utf-8")
        elif p == "/anchors":
            body = (
                b'<html><body><a href="/page/sec#intro">s</a>'
                b'<a href="#top">top</a>'
                b"<a href='http://other.example/y#z'>y</a>"
                b'<a href="/page/next">n</a></body></html>'
            )
            self._ok(body, ctype="text/html")
        elif p == "/flaky":
            if n < 3:  # two 503s, then success
                self.send_error(503)
            else:
                self._ok(b"<html><title>Flaky OK</title></html>",
                         ctype="text/html")
        elif p == "/gone":
            self.send_error(404)
        elif p == "/secret":
            self.send_error(403)
        elif p == "/always500":
            self.send_error(500)
        elif p == "/blob":
            self._ok(BLOB, ctype="application/octet-stream")
        elif p == "/short":
            # declared 10240, deliver half, die: the streamed client must
            # surface (partial bytes, declared length) for the truncated
            # verdict
            self.send_response(200)
            self.send_header("Content-Length", str(len(BLOB)))
            self.end_headers()
            self.wfile.write(BLOB[: len(BLOB) // 2])
            self.wfile.flush()
            self.connection.close()
        elif p == "/robots.txt":
            self._ok(b"User-agent: *\nDisallow: /private/\nCrawl-delay: 1\n",
                     ctype="text/plain")
        else:
            self.send_error(404)

    def _ok(self, body: bytes, ctype: str):
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def httpd():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_urllib_fetcher_through_fetch_extract(spark, httpd):
    """Real TCP fetch through the mapInPandas stage: extraction, 404 ->
    'missing', 403 -> 'denied', 5xx retried in-ladder (the flaky URL
    succeeds on attempt 3), permanent 5xx exhausts to 'error'."""
    base = f"http://{httpd}"
    rows = [
        (0, f"{base}/page/a", 0),
        (1, f"{base}/gone", 1),
        (2, f"{base}/secret", 0),
        (3, f"{base}/flaky", 1),
        (4, f"{base}/always500", 0),
    ]
    sched = spark.createDataFrame(rows, "page_index int, canon_url string, salt int")
    out = fe.fetch_extract(
        sched, hc.make_urllib_fetcher(timeout=10), retries=3
    ).collect()
    by = {r.page_index: r for r in out}
    assert by[0].fetch_status == "fetched"
    assert by[0].caption == "Page T"
    assert by[0].image_id == f"{base}/img/a.png"
    assert set(by[0].links) == {f"{base}/page/next", "http://other.example/x"}
    assert by[1].fetch_status == "missing"
    assert by[2].fetch_status == "denied"
    assert by[3].fetch_status == "fetched" and by[3].attempts == 3
    assert by[4].fetch_status == "error" and by[4].attempts == 3


def test_fragment_hrefs_keep_their_outlink(spark, httpd):
    """An href with a #fragment links to the page without it; a bare
    in-page anchor is not an outlink."""
    base = f"http://{httpd}"
    sched = spark.createDataFrame(
        [(0, f"{base}/anchors", 0)], "page_index int, canon_url string, salt int"
    )
    (row,) = fe.fetch_extract(sched, hc.make_urllib_fetcher(timeout=10)).collect()
    assert row.fetch_status == "fetched"
    assert list(row.links) == [
        f"{base}/page/sec", "http://other.example/y", f"{base}/page/next",
    ]


def test_urllib_downloader_through_download_binaries(spark, httpd):
    """Streamed download through the mapInPandas stage: byte-identity +
    md5 on the full blob, short read -> 'truncated' with NULL payload,
    404 -> 'missing'."""
    import hashlib

    base = f"http://{httpd}"
    rows = [
        (0, f"{base}/blob", 0),
        (1, f"{base}/short", 1),
        (2, f"{base}/gone", 0),
    ]
    fetched = spark.createDataFrame(rows, "i int, canon_url string, salt int")
    out = dl.download_binaries(
        fetched, hc.make_urllib_downloader(timeout=10), retries=2
    ).collect()
    by = {r.i: r for r in out}
    assert by[0].download_status == "ok"
    assert bytes(by[0].bytes) == BLOB
    assert by[0].md5 == hashlib.md5(BLOB).hexdigest()
    assert by[0].n_bytes == by[0].content_length == len(BLOB)
    assert by[1].download_status == "truncated"
    assert by[1].bytes is None and by[1].md5 is None
    assert by[1].content_length == len(BLOB) and by[1].n_bytes < len(BLOB)
    assert by[2].download_status == "missing"


def test_urllib_robots_through_refresh_cache(spark, httpd, tmp_path):
    """The robots-cache lifecycle over real HTTP: a published robots.txt
    parses into rules+delays; a host with none (404) caches as
    crawl-all; an unreachable host exhausts the ladder into the
    deny-all 'error' entry."""
    from literature_crawler_spark.plans.state import SnapshotStore
    from literature_crawler_spark.sources import robots as rb

    host = httpd
    store = SnapshotStore(str(tmp_path / "rc"))
    # unreachable: a port nothing listens on (connection refused ->
    # URLError -> transient -> ladder exhausts)
    dead = "127.0.0.1:1"
    hosts = spark.createDataFrame([(host,), (dead,)], "host string")
    rules, delays = rb.refresh_robots_cache(
        spark,
        store,
        hosts,
        hc.make_urllib_robots_fetcher(timeout=3, scheme="http"),
        "2024-01-01 00:00:00",
        retries=2,
    )
    got = {(r.host, r.pattern, r.allow) for r in rules.collect()}
    assert got == {(host, "/private/", False), (dead, "/", False)}
    assert {(r.host, r.min_interval_ms) for r in delays.collect()} == {
        (host, 1000)
    }


class _NoRobotsHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):  # noqa: N802
        self.send_error(404)


def test_urllib_robots_404_is_crawl_all(tmp_path):
    """RFC 9309 §2.3.1.3: a host that answers but publishes no
    robots.txt maps to '' (crawl-all, cached as 'missing') — checked
    against a real 404ing server, plus the status-classification table."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _NoRobotsHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        f = hc.make_urllib_robots_fetcher(timeout=3, scheme="http")
        assert f(f"127.0.0.1:{srv.server_address[1]}") == ""
    finally:
        srv.shutdown()
    assert hc._classify(404) == "missing"
    assert hc._classify(410) == "missing"
    assert hc._classify(403) == "denied"
    assert hc._classify(503) == "transient"
    assert hc._classify(429) == "transient"
    assert hc._classify(408) == "transient"
    assert hc._classify(200) == "ok"


def test_bogus_charset_never_raises():
    """A server-declared 'charset=bogus' must decode with replacement,
    not raise LookupError out of the fetch stage."""
    out = hc.parse_fetch_page(b"<title>T</title>", "http://x/", "bogus-charset")
    assert out["caption"] == "T"
    assert hc._decode_body(b"abc", "no-such-encoding") == "abc"
    assert hc._decode_body(b"abc", None) == "abc"
