"""Stateful streaming operators: windowed metrics + crawl-frontier state.

Completes the streaming story (SURVEY.md §2.12):

- :func:`windowed_extraction_metrics` — event-time windowed quality
  metrics over the extraction stream with a watermark for late data
  (plain watermark + window aggregation, fully JVM-side).
- :func:`dedup_urls_stateful` — the reference's ``UrlStore`` known-set
  (cli_utils.dart:43-114) as an ``applyInPandasWithState`` operator:
  per-host state carries a BOUNDED Bloom seen-set (16 KB/host, ~1% FP
  at 10k URLs) and a politeness quota; late arrivals of already-seen
  URLs are dropped exactly-once per trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

URL_EVENT_SCHEMA = T.StructType([
    T.StructField("host", T.StringType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("event_time", T.TimestampType(), False),
])

FRONTIER_OUT_SCHEMA = T.StructType([
    T.StructField("host", T.StringType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("accepted", T.BooleanType(), False),
])

# NOTE: this schema replaced the round-1 (seen array<string>, emitted)
# layout; applyInPandasWithState state schemas are not evolvable, so
# streaming checkpoints written by the previous layout must be discarded
# before restarting a query on this version.
FRONTIER_STATE_SCHEMA = T.StructType([
    T.StructField("bloom", T.BinaryType(), True),
    T.StructField("emitted", T.IntegerType(), True),
    T.StructField("n_seen", T.IntegerType(), True),
])

# per-host Bloom filter: 2^17 bits (16 KB) / 4 hashes ≈ 1% FP at ~10k URLs.
# Bounded state per host regardless of crawl length — the raw seen-set grew
# without limit and was re-sorted every trigger; a false positive just skips
# an occasional genuinely-new URL, the safe direction for crawl dedup.
_BLOOM_BITS = 1 << 17
_BLOOM_K = 4


def _bloom_positions(url: str):
    import hashlib
    d = hashlib.md5(url.encode()).digest()
    for i in range(_BLOOM_K):
        yield int.from_bytes(d[i * 4:(i + 1) * 4], "big") % _BLOOM_BITS


def windowed_extraction_metrics(extracted_stream: DataFrame,
                                time_col: str = "event_time",
                                window: str = "1 minute",
                                watermark: str = "2 minutes") -> DataFrame:
    """Per-window docs / fallback-rate / empty-rate with late-data bound."""
    from ..operators.pipeline import quality_count_columns
    return (
        extracted_stream
        .withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("w"))
        .agg(*quality_count_columns())
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "docs",
                (F.col("fallback_docs") / F.col("docs")).alias("fallback_rate"),
                (F.col("empty_docs") / F.col("docs")).alias("empty_rate"))
    )


FRONTIER_QUOTA = 100


def _frontier_fn(key, pdf_iter, state):
    """Per-host frontier state: bounded Bloom seen-set + per-TRIGGER
    politeness quota.  The quota counter resets every micro-batch call
    (the reference's per-domain round-robin bounds each processing round,
    cli_utils.dart:379-406) — only the dedup Bloom is lifetime state, so
    a long-running crawl is rate-limited per trigger, not capped forever.
    ``emitted`` persisted in state is the LAST trigger's count (metrics);
    ``n_seen`` is the lifetime accepted total."""
    import pandas as pd

    quota = FRONTIER_QUOTA
    if state.exists:
        bloom_bytes, _last_emitted, n_seen = state.get
        bloom = bytearray(bloom_bytes or bytes(_BLOOM_BITS // 8))
        n_seen = n_seen or 0
    else:
        bloom, n_seen = bytearray(_BLOOM_BITS // 8), 0
    emitted = 0
    rows = []
    for pdf in pdf_iter:
        for url in pdf["url"]:
            pos = list(_bloom_positions(url))
            seen = all(bloom[p >> 3] & (1 << (p & 7)) for p in pos)
            if seen or emitted >= quota:
                rows.append((key[0], url, False))
            else:
                for p in pos:
                    bloom[p >> 3] |= 1 << (p & 7)
                n_seen += 1
                emitted += 1
                rows.append((key[0], url, True))
    state.update((bytes(bloom), emitted, n_seen))
    yield pd.DataFrame(rows, columns=["host", "url", "accepted"])


def dedup_urls_stateful(url_stream: DataFrame) -> DataFrame:
    """UrlStore analog over a stream of (host, url, event_time)."""
    return (
        url_stream
        .groupBy("host")
        .applyInPandasWithState(
            _frontier_fn,
            outputStructType=FRONTIER_OUT_SCHEMA,
            stateStructType=FRONTIER_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
