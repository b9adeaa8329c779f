"""HTTP fetch layer with injected fake transports (downloads.dart parity)."""

import gzip

from trafilatura_spark.sources.downloads import (
    RETRY_STATUSES,
    _send_request,
    fetch_binary_documents,
    fetch_response,
    fetch_url,
    is_live_page,
)

PAGE = ("<html><body><article><p>" + "content words here " * 30
        + "</p></article></body></html>").encode()


def _ok_transport(method, url, headers, timeout, max_bytes=None):
    assert "User-Agent" in headers
    return 200, {"content-type": "text/html"}, b"" if method == "HEAD" else PAGE


def test_fetch_url_ok():
    html = fetch_url("https://x.test/a", transport=_ok_transport)
    assert html is not None and "content words" in html


def test_fetch_url_status_gate():
    def t404(m, u, h, to, max_bytes=None): return 404, {}, PAGE
    assert fetch_url("https://x.test/a", transport=t404) is None


def test_fetch_url_size_gates():
    def tiny(m, u, h, to, max_bytes=None): return 200, {}, b"<html>x</html>"
    assert fetch_url("https://x.test/a", transport=tiny) is None
    def huge(m, u, h, to, max_bytes=None): return 200, {}, b"x" * 30_000_000
    assert fetch_url("https://x.test/a", transport=huge) is None


def test_fetch_url_retries_force_status():
    calls = []
    def flaky(m, u, h, to, max_bytes=None):
        calls.append(1)
        return (503, {}, b"") if len(calls) < 3 else (200, {}, PAGE)
    assert 503 in RETRY_STATUSES
    html = fetch_url("https://x.test/a", transport=flaky, max_retries=3)
    assert html is not None
    assert len(calls) == 3


def test_fetch_url_transport_error():
    def boom(m, u, h, to, max_bytes=None): raise OSError("no network")
    assert fetch_url("https://x.test/a", transport=boom) is None


def test_fetch_response_headers_and_decode():
    def gz(m, u, h, to, max_bytes=None):
        return 200, {"x-test": "1"}, gzip.compress(PAGE)
    r = fetch_response("https://x.test/a", decode=True, with_headers=True,
                       transport=gz)
    assert r.headers.get("x-test") == "1"
    assert "content words" in r.html


def test_is_live_page():
    assert is_live_page("https://x.test/a", transport=_ok_transport)
    def dead(m, u, h, to, max_bytes=None): return 404, {}, b""
    assert not is_live_page("https://x.test/a", transport=dead)


def test_transport_type_error_is_one_failed_request():
    """A transport that raises TypeError is a failed request like any
    other error: called once, never retried under another signature."""
    calls = []

    def broken(m, u, h, to, max_bytes=None):
        calls.append(u)
        raise TypeError("bad body")

    assert _send_request("https://x.test/a", broken, None) is None
    assert calls == ["https://x.test/a"]


def test_fetch_binary_documents_spark(spark):
    # transport defined locally: cloudpickle serializes nested functions by
    # value, so Spark workers don't need this test module on their path
    page = PAGE

    def ok_transport(method, url, headers, timeout, max_bytes=None):
        return 200, {}, page

    urls = spark.createDataFrame(
        [(f"https://h{i % 3}.test/p{i}",) for i in range(9)], ["url"])
    out = fetch_binary_documents(urls, transport=ok_transport,
                                 partitions=3).collect()
    assert len(out) == 9
    assert all(r["status"] == 200 and bytes(r["content"]) == PAGE for r in out)


def test_fetch_politeness_enforces_per_host_interval(spark):
    """With SLEEP_TIME set, same-host requests must be spaced by at
    least the interval even when the partition interleaves hosts —
    the limiter tracks per-host last-request times, not just the
    previous row's host — and politeness forces the host repartition
    so one host never fans out across tasks."""
    import time

    def stamping_transport(method, url, headers, timeout,
                           max_bytes=None):
        return 200, {}, f"{time.monotonic():.4f}".encode()

    urls = spark.createDataFrame(
        [(f"https://h{i % 2}.test/p{i}",) for i in range(6)], ["url"])
    fetched = fetch_binary_documents(
        urls, transport=stamping_transport, config={"SLEEP_TIME": 0.3})
    plan = fetched._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan, plan  # host repartition is forced
    rows = fetched.collect()
    by_host: dict = {}
    for r in rows:
        host = r["url"].split("/")[2]
        by_host.setdefault(host, []).append(float(bytes(r["content"])))
    for host, ts in by_host.items():
        ts.sort()
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        assert all(g >= 0.28 for g in gaps), (host, gaps)
