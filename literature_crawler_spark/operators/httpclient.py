"""Stdlib HTTP defaults for the pluggable network seams (deploy path).

The fetch (`operators/fetch.py`), download (`operators/download.py`) and
robots-cache (`sources/robots.py`) stages each take a pluggable callable;
until now only the deterministic synthetic defaults shipped. These
factories are ``urllib``-based real-HTTP implementations of the same
contracts (reference client: ``app/util/download.py:26-147`` —
``get_http_data``'s retry ladder + browser headers, ``download_video``'s
streamed read whose short-read case the caller detects by comparing
received bytes against the declared Content-Length).

Division of labor — the RETRY LADDER STAYS IN THE SPARK STAGES (they
re-call the callable while it returns ``None``), so these callables
classify one attempt's outcome only:

* HTTP 200            -> a result dict (per-seam shape below)
* 404 (and other 4xx) -> permanent 'missing' (robots: crawl-all "")
* 401/403             -> permanent 'denied'
* 408/429, 5xx, socket/URL errors, short TLS handshakes
                      -> ``None`` = transient, the stage retries

Each factory returns a plain closure over scalar config, so it pickles
into executor Python workers and each worker talks to the network
directly — the driver never proxies a byte. Live network I/O remains a
sanctioned non-goal in this sandbox (SURVEY §7.4); the test suite drives
these against a loopback ``http.server`` through the real mapInPandas
stages (tests/test_httpclient.py).
"""

from __future__ import annotations

import re
from collections.abc import Callable

DEFAULT_TIMEOUT_S = 30.0
# the reference sends desktop-browser headers (download.py:25-35); one
# honest crawler UA is the polite default here, overridable per factory
DEFAULT_USER_AGENT = "literature-crawler-spark/1.0 (+crawler)"

_PERMANENT_MISSING = {404, 410}
_PERMANENT_DENIED = {401, 403}
_TRANSIENT_4XX = {408, 429}


def _classify(code: int) -> str:
    """HTTP status -> seam outcome class ('ok'|'missing'|'denied'|'transient')."""
    if 200 <= code < 300:
        return "ok"
    if code in _PERMANENT_DENIED:
        return "denied"
    if code in _TRANSIENT_4XX or code >= 500:
        return "transient"
    if code in _PERMANENT_MISSING or 400 <= code < 500:
        return "missing"
    return "transient"  # 3xx loops exhausted, anything exotic: retry


def _open(url: str, timeout: float, user_agent: str, headers: dict | None = None):
    """One GET attempt. Returns (outcome, response|None); the response is
    open (caller reads + closes) so the download seam can stream."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url, headers={"User-Agent": user_agent, **(headers or {})}
    )
    try:
        resp = urllib.request.urlopen(req, timeout=timeout)  # noqa: S310
        return "ok", resp
    except urllib.error.HTTPError as e:
        outcome = _classify(e.code)
        e.close()
        return outcome, None
    except (urllib.error.URLError, OSError, TimeoutError):
        return "transient", None


def _decode_body(body: bytes, charset: str | None) -> str:
    """Decode with the server-declared charset, falling back to UTF-8 —
    a bogus 'charset=...' token must yield a replaced-char string, not a
    LookupError that aborts the Spark stage."""
    try:
        return body.decode(charset or "utf-8", errors="replace")
    except LookupError:
        return body.decode("utf-8", errors="replace")


_HREF_RE = re.compile(r"""<a\s[^>]*href\s*=\s*["']([^"']+)["']""", re.I)
_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.I | re.S)
_OG_IMAGE_RE = re.compile(
    r"""<meta\s[^>]*property\s*=\s*["']og:image["'][^>]*content\s*=\s*["']([^"']+)["']""",
    re.I,
)


def parse_fetch_page(body: bytes, url: str, charset: str | None) -> dict:
    """Default HTML extract for the fetch seam: page <title> as the
    caption, absolute-ized <a href> targets as the outlinks, og:image as
    the image id. Site-specific extracts replace this parse, not the
    transport (pass ``parse=`` to ``make_urllib_fetcher``)."""
    from urllib.parse import urldefrag, urljoin

    text = _decode_body(body, charset)
    title = _TITLE_RE.search(text)
    og = _OG_IMAGE_RE.search(text)
    # the fragment names a spot inside the target page, not another page:
    # '/page#sec' links to '/page', and a bare '#sec' links nowhere new
    hrefs = (urldefrag(h).url for h in _HREF_RE.findall(text))
    links = [urljoin(url, h) for h in hrefs if h]
    return {
        "status": "fetched",
        "image_id": urljoin(url, og.group(1)) if og else None,
        "caption": title.group(1).strip() if title else None,
        "links": links,
    }


def make_urllib_fetcher(
    timeout: float = DEFAULT_TIMEOUT_S,
    user_agent: str = DEFAULT_USER_AGENT,
    parse: Callable[[bytes, str, str | None], dict] = parse_fetch_page,
    max_bytes: int = 16 * 1024 * 1024,
) -> Callable[[str], dict | None]:
    """Real-HTTP ``Fetcher`` for ``fetch.fetch_extract``: one GET per
    attempt, body handed to ``parse``; transient outcomes return None so
    the stage's in-batch retry ladder (reference download.py:26-48 shape)
    re-calls this. ``max_bytes`` caps the read — a page fetch must not
    slurp an unbounded body into an executor."""

    def fetch(url: str) -> dict | None:
        outcome, resp = _open(url, timeout, user_agent)
        if outcome == "transient":
            return None
        if outcome != "ok":
            return {"status": outcome}
        import http.client

        try:
            body = resp.read(max_bytes)
            charset = resp.headers.get_content_charset()
        except (OSError, http.client.HTTPException):
            return None  # died mid-body: transient
        finally:
            resp.close()
        return parse(body, url, charset)

    return fetch


def make_urllib_downloader(
    timeout: float = DEFAULT_TIMEOUT_S,
    user_agent: str = DEFAULT_USER_AGENT,
    chunk_bytes: int = 1 << 20,
    max_bytes: int = 1 << 31,
) -> Callable[[str], dict | None]:
    """Real-HTTP ``Downloader`` for ``download.download_binaries``:
    chunked streamed GET (reference download.py:79-103). A short read —
    the connection dying before Content-Length bytes arrive — returns
    what arrived WITH the declared length, so the stage's integrity
    check marks the row ``truncated`` exactly like the reference's
    ``progress_bar.n != total_size`` case (a partial blob is data about
    the failure, never committed as payload)."""

    def download(url: str) -> dict | None:
        outcome, resp = _open(url, timeout, user_agent)
        if outcome == "transient":
            return None
        if outcome != "ok":
            return {"status": outcome}
        declared = resp.headers.get("Content-Length")
        declared_n = int(declared) if declared and declared.isdigit() else None
        import http.client

        chunks, total = [], 0
        try:
            while total < max_bytes:
                chunk = resp.read(chunk_bytes)
                if not chunk:
                    break
                chunks.append(chunk)
                total += len(chunk)
        except (OSError, http.client.HTTPException):
            if declared_n is None:
                return None  # unknown size + dead socket: retry
            # short read with a declared size: surface it for the
            # truncated-row verdict instead of retrying forever
        finally:
            resp.close()
        return {
            "status": "ok",
            "bytes": b"".join(chunks),
            "content_length": declared_n if declared_n is not None else total,
        }

    return download


def make_urllib_robots_fetcher(
    timeout: float = DEFAULT_TIMEOUT_S,
    user_agent: str = DEFAULT_USER_AGENT,
    scheme: str = "https",
    max_bytes: int = 1 << 20,
) -> Callable[[str], str | None]:
    """Real-HTTP robots fetcher for ``robots.refresh_robots_cache``:
    ``host -> body`` with the cache's RFC 9309 outcome mapping — 404/4xx
    means no robots published (crawl-all, cached as ``""``/'missing'),
    while 5xx/unreachable returns ``None`` so the ladder exhausts into
    the cache's 'error' status and its deny-all rule."""

    def fetch_robots(host: str) -> str | None:
        url = f"{scheme}://{host}/robots.txt"
        outcome, resp = _open(url, timeout, user_agent)
        if outcome == "transient":
            return None
        if outcome != "ok":
            # RFC 9309 §2.3.1.3: any 4xx "unavailable" (404, 401, 403
            # alike) means no robots.txt published -> crawl-all; only
            # 5xx/unreachable (§2.3.1.4) must assume complete disallow,
            # which the ladder-exhaust 'error' path already produces
            return ""
        import http.client

        try:
            body = resp.read(max_bytes)
            charset = resp.headers.get_content_charset()
        except (OSError, http.client.HTTPException):
            return None
        finally:
            resp.close()
        return _decode_body(body, charset)

    return fetch_robots
