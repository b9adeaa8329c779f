"""HTTP fetching with a pluggable transport.

Re-expression of /root/reference/lib/src/downloads.dart: Response record
(28-78), request dispatch with UA/cookie config and size gates (110-165),
retry-status list (23-26), suitability check (168-178), fetchUrl /
fetchResponse (191-247), isLivePage (249).

Networking is injected through one signature, ``transport(method, url,
headers, timeout, max_bytes) -> (status, headers, bytes)``, called only
by :func:`_send_request`, so every GET and HEAD carries the configured
User-Agent, cookie, timeout and size cap.  The default transport is
stdlib ``urllib``; tests and offline environments inject fakes.

Politeness is one rule, :func:`polite_request`: a host's next request
starts ``SLEEP_TIME`` seconds after its previous one returned
(cli_utils.dart:379-406).  :func:`fetch_binary_documents` keeps one
``{host: time}`` dict per task, the driver-side probe loops in
``sources.crawl`` one per loop.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from .loading import decode_file

USER_AGENT = "trafilatura-spark/0.1 (+batch extraction engine)"
DEFAULT_HEADERS = {"User-Agent": USER_AGENT}

# downloads.dart:23-26 forceStatus
RETRY_STATUSES = frozenset(
    [429, 499, 500, 502, 503, 504, 509, 520, 521, 522, 523, 524, 525, 526,
     527, 530, 598])

MAX_FILE_SIZE = 20_000_000
MIN_FILE_SIZE = 200


@dataclass
class Response:
    """downloads.dart:28-78."""

    data: bytes | None
    status: int
    url: str
    headers: dict = field(default_factory=dict)
    html: str | None = None

    @property
    def has_data(self) -> bool:
        return bool(self.data)

    def decode_data(self, decode: bool) -> None:
        if decode and self.data is not None:
            self.html = decode_file(self.data)

    def as_dict(self) -> dict:
        return {"data": self.data, "status": self.status, "url": self.url,
                "headers": self.headers, "html": self.html}


def default_transport(method: str, url: str, headers: dict,
                      timeout: int, max_bytes: int = MAX_FILE_SIZE + 1):
    """stdlib urllib transport; returns (status, headers, bytes).
    ``max_bytes`` bounds the read (one byte past the configured cap so the
    caller's size gate can DETECT oversize instead of silently truncating
    when config raises MAX_FILE_SIZE)."""
    import urllib.request

    req = urllib.request.Request(url, headers=headers, method=method)
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        body = b"" if method == "HEAD" else resp.read(max_bytes)
        return resp.status, dict(resp.headers), body


def _send_request(url: str, transport, config: dict | None,
                  method: str = "GET",
                  with_headers: bool = False) -> Response | None:
    """downloads.dart:110-165: UA/cookie headers, timeout, size gates;
    any failure → None (never raises).  The one transport call site."""
    config = config or {}
    headers = dict(DEFAULT_HEADERS)
    if config.get("USER_AGENTS"):
        headers["User-Agent"] = config["USER_AGENTS"][0]
    if config.get("COOKIE"):
        headers["Cookie"] = config["COOKIE"]
    timeout = int(config.get("DOWNLOAD_TIMEOUT", 30))
    max_size = int(config.get("MAX_FILE_SIZE", MAX_FILE_SIZE))
    try:
        status, resp_headers, body = transport(method, url, headers,
                                               timeout, max_size + 1)
        if body is not None and len(body) > max_size:
            return None
        resp = Response(bytes(body) if body is not None else None, int(status),
                        url)
        if with_headers:
            resp.headers = dict(resp_headers or {})
        return resp
    except Exception:
        return None


def polite_request(url: str, transport, config: dict | None,
                   last_by_host: dict, method: str = "GET") -> Response | None:
    """:func:`_send_request` behind the per-host politeness rule: wait
    until ``SLEEP_TIME`` has passed since the last request to this host
    returned, then record the time this one returns in ``last_by_host``
    ({host: monotonic time})."""
    sleep_time = float((config or {}).get("SLEEP_TIME", 0))
    host = urlsplit(url).netloc
    prev = last_by_host.get(host)
    if sleep_time > 0 and prev is not None:
        time.sleep(max(0.0, prev + sleep_time - time.monotonic()))
    resp = _send_request(url, transport, config, method)
    last_by_host[host] = time.monotonic()
    return resp


def _is_suitable_response(response: Response, config: dict | None) -> bool:
    """downloads.dart:168-178: status 200 + acceptable length."""
    config = config or {}
    if response.status != 200:
        return False
    n = len(response.html or (response.data or b""))
    lo = int(config.get("MIN_FILE_SIZE", MIN_FILE_SIZE))
    hi = int(config.get("MAX_FILE_SIZE", MAX_FILE_SIZE))
    return lo <= n <= hi


def fetch_response(url: str, decode: bool = False, with_headers: bool = False,
                   config: dict | None = None,
                   transport=default_transport) -> Response | None:
    """downloads.dart:228-247."""
    response = _send_request(url, transport, config,
                             with_headers=with_headers)
    if response is None:
        return None
    response.decode_data(decode)
    return response


def fetch_url(url: str, config: dict | None = None,
              transport=default_transport,
              max_retries: int = 2) -> str | None:
    """downloads.dart:191-224 with the forceStatus retry list; a retry
    waits out the politeness interval like any same-host request."""
    last_by_host: dict = {}
    for attempt in range(max_retries + 1):
        response = polite_request(url, transport, config, last_by_host)
        if response is None:
            return None
        if response.status in RETRY_STATUSES and attempt < max_retries:
            continue
        response.decode_data(True)
        if response.has_data and _is_suitable_response(response, config):
            return response.html
        return None
    return None


def is_live_page(url: str, transport=default_transport,
                 config: dict | None = None,
                 last_by_host: dict | None = None) -> bool:
    """HEAD probe (downloads.dart:249): status < 400.  Pass the caller's
    ``last_by_host`` to space it from the caller's other requests."""
    resp = polite_request(url, transport, config,
                          {} if last_by_host is None else last_by_host,
                          "HEAD")
    return resp is not None and resp.status < 400


# -- Spark form ---------------------------------------------------------------

def fetch_binary_documents(urls_df, url_col: str = "url",
                           transport=default_transport,
                           config: dict | None = None,
                           partitions: int | None = None):
    """(url) → (url, status, content) via an Arrow-batched stage.

    When politeness is on (config SLEEP_TIME > 0) or the caller sizes
    ``partitions``, the input is repartitioned by host so each task owns
    its hosts and :func:`polite_request` spaces their requests
    (politeness analog of the reference's per-domain round-robin,
    cli_utils.dart:379-406); otherwise the stage stays shuffle-free."""
    from pyspark.sql import functions as F, types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("content", T.BinaryType(), True),
    ])

    # politeness only holds if every URL of a host lands in ONE task, so
    # it forces the host repartition even when the caller didn't size it;
    # the task's pacer dict keys on host, so hash partitioning that
    # interleaves hosts ([a,b,a,b]) is still spaced per host
    sleep_time = float((config or {}).get("SLEEP_TIME", 0))

    df = urls_df
    if partitions:
        df = df.repartition(partitions,
                            F.parse_url(F.col(url_col), F.lit("HOST")))
    elif sleep_time > 0:
        df = df.repartition(F.parse_url(F.col(url_col), F.lit("HOST")))

    def batches(it):
        import pandas as pd
        last_by_host: dict = {}
        for pdf in it:
            rows = []
            for url in pdf["url"]:
                resp = polite_request(url, transport, config, last_by_host)
                if resp is None:
                    rows.append((url, None, None))
                else:
                    rows.append((url, resp.status, resp.data))
            yield pd.DataFrame(rows, columns=["url", "status", "content"])

    return df.select(F.col(url_col).alias("url")).mapInPandas(batches, schema)
