"""End-to-end crawl driver: seeds → robots → fetch → discover → extract.

The batch re-expression of the reference's live download loop
(cli_utils.dart:379-406 downloadQueueProcessing + spider.dart:529-571
focusedCrawler): instead of a sequential per-domain round-robin with
sleeps, each BFS hop is one wave of DataFrame algebra —

    frontier --robots gate--> --per-host quota--> --per-host-partitioned
    fetch (politeness: one task per host serializes its requests, optional
    inter-request sleep)--> pages --JVM-side href scrape + same-site
    filter--> next frontier (anti-join visited)

and the fetched pages feed the standard extraction operator.  The
transport is pluggable (tests drive a fake site; production uses the
stdlib transport from sources.downloads), so the whole loop runs under
pytest without a network.

At scale each hop is: one broadcast-able robots join, one window quota,
one narrow Arrow fetch stage partitioned by host, one regex scan for
links — no Python in the relational steps, no collect() of page content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .discovery import filter_known
from .downloads import default_transport, fetch_binary_documents
from .spider import filter_robots, per_domain_quota, robots_rules_df

# href scrape (spider.dart:405-426 processLinks link lifting; quote-agnostic)
_HREF_PAT = r"""<a\s[^>]*href=["']([^"']+)["']"""

# driver-side sequential loops (tryHomepage retries, gnews probes) are
# CLI-scale by design; above this many they are truncated with a warning
# so a million-line --seeds-file cannot silently serialize fetches on the
# driver — the distributed wave stages are unaffected
_DRIVER_LOOP_CAP = 1000


def _polite_send(url: str, transport, config: dict | None,
                 last_by_host: dict):
    """_send_request with the same per-host SLEEP_TIME politeness the
    distributed fetch stages honor (downloads.py:181-204), for the
    driver-side retry/probe loops — the reference sleeps before its
    homepage retry too (feeds.dart:425-427)."""
    import time as _time
    from urllib.parse import urlsplit

    from .downloads import _send_request

    sleep_time = float((config or {}).get("SLEEP_TIME", 0))
    host = urlsplit(url).netloc
    if sleep_time > 0:
        prev = last_by_host.get(host)
        now = _time.monotonic()
        if prev is not None and now - prev < sleep_time:
            _time.sleep(sleep_time - (now - prev))
    resp = _send_request(url, transport, config)
    last_by_host[host] = _time.monotonic()
    return resp


def _normalize_dot_segments(col):
    """Collapse ``/./`` and ``/seg/../`` in a URL column (RFC 3986 §5.2.4
    as bounded JVM regex passes — no Python eval).  Without this,
    ``a/b/../x`` and ``a/x`` count as distinct frontier URLs and get
    fetched twice.  The lookbehind keeps the scheme's ``//`` intact
    (``https://h/../x`` stays unresolved rather than eating the host);
    4 passes resolve nesting to depth 4 — deeper chains (vanishingly
    rare in real hrefs) just stay un-collapsed and still fetch
    correctly, they only lose the dedup.  Segments starting with ``.``
    (e.g. ``/.well-known/``) are conservatively never collapsed."""
    for _ in range(2):
        col = F.regexp_replace(col, r"(?<=[^:/])/\./", "/")
    for _ in range(4):
        col = F.regexp_replace(col, r"(?<=[^:/])/[^/.][^/]*/\.\./", "/")
    return col


def resolve_links(pages: DataFrame, html_col: str = "html",
                  url_col: str = "url") -> DataFrame:
    """(url, html) → one row per absolute same-site link.

    JVM-side: regexp_extract_all lifts hrefs, parse_url supplies the
    page's scheme/host for relative resolution (fix_relative_urls
    semantics, feeds.dart:137-159, as column expressions); protocol-
    relative gets https:, absolute paths get scheme://host, bare
    relatives resolve against the page directory.  Off-site links are
    dropped (focused-crawler behavior, spider.dart:418-423)."""
    from .spider import url_authority

    scheme = F.coalesce(F.parse_url(F.col(url_col), F.lit("PROTOCOL")),
                        F.lit("https"))
    # authority, NOT parse_url HOST: HOST strips the port, so an
    # absolute-path href on http://host:8080/ would resolve to
    # http://host/page (port 80) while bare-relative links on the same
    # page kept :8080 — two authorities from one page
    host = url_authority(url_col)
    base = F.concat(scheme, F.lit("://"), host)
    # page directory for bare-relative links: strip after the last path
    # '/'; a path-less page URL ('https://example.com') IS its own
    # directory after a trailing '/' (RFC 3986 §5.2.3 merge) — blindly
    # stripping [^/]*$ there would eat the host and corrupt every
    # bare-relative link on no-trailing-slash seeds
    page_dir = F.when(F.col(url_col).rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*$"),
                      F.concat(F.col(url_col), F.lit("/"))) \
        .otherwise(F.regexp_replace(F.col(url_col), r"[^/]*$", ""))
    # fragment-stripped hrefs (processLinks semantics: '/about#team'
    # targets '/about'); pure-fragment links reduce to '' and are
    # dropped.  The strip rides inside the array transform so explode
    # stays a top-level generator.
    hrefs = F.transform(
        F.regexp_extract_all(F.col(html_col), F.lit(_HREF_PAT), 1),
        lambda x: F.regexp_replace(x, "#.*$", ""))
    raw = pages.select(
        F.col(url_col).alias("src"), base.alias("_base"),
        page_dir.alias("_dir"), host.alias("_host"),
        F.explode(hrefs).alias("_l")).filter(F.col("_l") != "")
    resolved = F.when(F.col("_l").rlike("^https?://"), F.col("_l")) \
        .when(F.col("_l").startswith("//"),
              F.concat(F.lit("https:"), F.col("_l"))) \
        .when(F.col("_l").startswith("/"),
              F.concat(F.col("_base"), F.col("_l"))) \
        .when(F.col("_l").rlike("^[a-zA-Z]+:"), F.lit(None)) \
        .otherwise(F.concat(F.col("_dir"), F.col("_l")))
    link_auth = F.regexp_extract(
        F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    return (raw.withColumn("url", _normalize_dot_segments(resolved))
            .filter(F.col("url").isNotNull())
            .filter(link_auth == F.col("_host"))
            .select("src", "url").distinct())


def fetch_robots_rules(spark: SparkSession, origins: list[str],
                       transport=default_transport,
                       config: dict | None = None) -> DataFrame:
    """Fetch {origin}/robots.txt per seed origin and parse into the
    (host, allow, path) rule table filter_robots consumes.

    ``origins`` are ``scheme://authority`` strings (bare hosts are
    accepted and default to https).  The rule rows are keyed by the
    AUTHORITY — the same key :func:`spider.filter_robots` tags frontier
    URLs with — and the fetch uses the seed's own scheme: hardcoding
    https made every http-only site's robots.txt unreachable
    (connection refused → no rules → crawl proceeds as if allowed)."""
    rows = []
    for o in origins:
        origin = o if "://" in o else f"https://{o}"
        authority = origin.split("://", 1)[1].split("/", 1)[0]
        rows.append((authority, f"{origin}/robots.txt"))
    urls = spark.createDataFrame(rows, "host string, url string")
    fetched = fetch_binary_documents(urls, transport=transport, config=config)
    robots = (urls.join(fetched, "url", "left")
              .select("host",
                      F.when(F.col("status") == 200,
                             F.col("content").cast("string"))
                      .alias("robotstxt")))
    return robots_rules_df(robots)


def crawl_site(spark: SparkSession, seeds: list[str],
               transport=default_transport, max_hops: int = 2,
               per_host_quota: int = 10, config: dict | None = None,
               partitions: int | None = None,
               respect_robots: bool = True,
               url_filter: list[str] | None = None,
               url_blacklist: frozenset | None = None) -> DataFrame:
    """BFS crawl from seed URLs through ``max_hops`` hops; returns the
    fetched-pages table (url, hop, status, html).

    One wave per hop: robots row-filter → navigation-first per-host
    quota (spider.dart:405-426 priority frontier) → per-host-partitioned
    fetch → href scrape for the next frontier (anti-join visited).
    Lineage is cut per hop (fetch output is materialized by the
    localCheckpoint) so deep crawls don't build unbounded plans.

    ``url_filter`` / ``url_blacklist`` mirror the reference CLI's
    loadInputDict gates (cli_utils.dart:153-170): a URL enters the
    frontier only if it is not blacklisted (exact match) and, when
    filters are given, contains at least one filter substring.  Both are
    CLI-file-scale (driver-side lists, JVM-side row filters); a
    corpus-scale blacklist table belongs in a filter_known anti-join."""
    from urllib.parse import urlparse

    def apply_url_gates(df: DataFrame) -> DataFrame:
        return gate_urls(df, url_filter, url_blacklist)

    origins = sorted({f"{urlparse(s).scheme or 'https'}://{urlparse(s).netloc}"
                      for s in seeds})
    rules = (fetch_robots_rules(spark, origins, transport, config)
             if respect_robots else None)

    from .spider import is_not_crawlable

    frontier = apply_url_gates(
        spark.createDataFrame([(s,) for s in seeds], "url string")
        .distinct())
    visited = None
    pages = None
    for hop in range(max_hops + 1):
        if rules is not None:
            frontier = filter_robots(frontier, rules)
        frontier = per_domain_quota(frontier, quota=per_host_quota,
                                    navigation_first=True).localCheckpoint()
        # `visited` records what is actually FETCHED (post robots+quota):
        # a quota-cut URL stays eligible when a later hop has free
        # budget — recording the pre-quota frontier permanently lost it
        # (the reference's UrlStore likewise keeps unfetched todo URLs)
        visited = frontier if visited is None \
            else visited.unionByName(frontier).localCheckpoint()
        fetched = fetch_binary_documents(frontier, transport=transport,
                                         config=config,
                                         partitions=partitions)
        hop_pages = (fetched
                     .withColumn("hop", F.lit(hop))
                     .withColumn("html", F.when(F.col("status") == 200,
                                                F.col("content")
                                                .cast("string")))
                     .drop("content")
                     .localCheckpoint())
        pages = hop_pages if pages is None else pages.unionByName(hop_pages)
        if hop == max_hops:
            break
        links = resolve_links(hop_pages.filter(F.col("html").isNotNull()))
        # isValidLink's crawlability gate (spider.dart:243-270): login/
        # cart churn and binary downloads never enter the frontier
        frontier = apply_url_gates(
            filter_known(links.select("url").distinct(), visited)
            .filter(~is_not_crawlable("url"))).localCheckpoint()
        if frontier.isEmpty():
            break
    return pages


def _write_backup(pages, path: str, fmt: str) -> None:
    """Backup sink dispatch: parquet keeps the full (url, hop, status,
    html) contract; warc archives the successfully-fetched pages as
    Common Crawl-layout .warc.gz shards (status/hop live in the fetch
    table, not the archive — an archive is re-extractable on its own
    via read_warc / --input-format warc)."""
    if fmt == "warc":
        from pyspark.sql import functions as F
        from .warc import write_warc
        write_warc(pages.filter(F.col("html").isNotNull()), path)
    else:
        pages.write.mode("overwrite").parquet(path)


def crawl_and_extract(spark: SparkSession, seeds: list[str],
                      transport=default_transport, options=None,
                      max_hops: int = 2, per_host_quota: int = 10,
                      config: dict | None = None,
                      partitions: int | None = None,
                      serialize: str | None = None,
                      url_filter: list[str] | None = None,
                      url_blacklist: frozenset | None = None,
                      backup_path: str | None = None,
                      backup_format: str = "parquet") -> DataFrame:
    """The one-call analog of the reference CLI's crawl entry point
    (cli_utils.dart:379-406): crawl, then run the standard extraction
    operator over every fetched page (doc_id = url).  ``serialize``
    renders the requested output format exactly like the extract mode:
    every format from the extraction tree inside the Arrow stage, through
    the same dispatch as ``core.extract``.  ``url_filter`` /
    ``url_blacklist`` gate the crawl frontier (see crawl_site).
    ``backup_path`` writes the raw fetched pages (url, hop, status, html)
    as parquet before extraction — the reference's --backup-dir (raw HTML
    kept alongside the processed output); pages are localCheckpointed per
    hop, so the backup write re-fetches nothing."""
    pages = crawl_site(spark, seeds, transport=transport, max_hops=max_hops,
                       per_host_quota=per_host_quota, config=config,
                       partitions=partitions, url_filter=url_filter,
                       url_blacklist=url_blacklist)
    if backup_path:
        _write_backup(pages, backup_path, backup_format)
    return extract_fetched_pages(pages, options, serialize=serialize)


def extract_fetched_pages(pages: DataFrame, options=None,
                          serialize: str | None = None) -> DataFrame:
    """(url, html) → extraction output (doc_id = url): the shared tail of
    the crawl/explore drivers — the standard extraction operator, with the
    extract mode's in-stage --serialize rendering."""
    from ..operators.pipeline import extract_documents
    from .corpus import html_to_documents

    ok = pages.filter(F.col("html").isNotNull())
    docs = html_to_documents(ok.select(F.col("url"), F.col("html")),
                             id_col="url", html_col="html")
    return extract_documents(docs, options, serialize=serialize)


def probe_extractable(spark: SparkSession, urls: DataFrame,
                      transport=default_transport,
                      min_extracted_size: int | None = None,
                      config: dict | None = None,
                      partitions: int | None = None) -> DataFrame:
    """Distributed probeHomepage (cli_utils.dart:455-470): fetch each URL,
    html2txt the page, and keep URLs whose whole-page text is non-empty,
    longer than min_extracted_size, and contains a letter.

    One fetch stage (per-host partitioned, politeness-capable) feeding
    one narrow Arrow stage for the parse+gate — no shuffle between them."""
    from pyspark.sql import types as T

    from ..settings import MIN_EXTRACTED_SIZE

    min_size = (MIN_EXTRACTED_SIZE if min_extracted_size is None
                else min_extracted_size)
    fetched = fetch_binary_documents(urls, transport=transport,
                                     config=config, partitions=partitions)
    ok = fetched.filter(F.col("status") == 200) \
                .select("url", F.col("content").cast("string").alias("html"))

    schema = T.StructType([T.StructField("url", T.StringType(), False)])

    def batches(it):
        import re as _re

        import pandas as pd

        from ..dom import parse_html
        from ..operators.baseline import html2txt

        letter = _re.compile(r"[a-zA-Z]")
        for pdf in it:
            keep = []
            for url, html in zip(pdf["url"], pdf["html"]):
                try:
                    text = html2txt(parse_html(html))
                except Exception:
                    continue
                if text and len(text) > min_size and letter.search(text):
                    keep.append((url,))
            yield pd.DataFrame(keep, columns=["url"])

    return ok.mapInPandas(batches, schema)


def live_sitemap_pages(spark: SparkSession, seeds: list[str],
                       transport=default_transport,
                       target_lang: str | None = None,
                       max_rounds: int = 10,
                       max_sitemaps_seen: int = 10_000,
                       max_links: int = 10_000,
                       config: dict | None = None,
                       partitions: int | None = None) -> DataFrame:
    """Live sitemapSearch (sitemaps.dart:230-288): per seed —
    scheme-preserving base URL, a liveness HEAD gate on the base, a seed
    that itself looks like a sitemap (endswith .xml/.gz/'sitemap',
    sitemaps.dart:241-243) is used directly, otherwise robots.txt
    ``Sitemap:`` directives (sitemaps.dart:324-366) with the
    /sitemap.xml guess fallback; a DEEP non-sitemap seed (longer than
    base + 2) arms the reference's final exact-hostname page filter
    (filterUrls, sitemaps.dart:245-247 + 283-285).  Each round then
    FETCHES the sitemap frontier and applies the same relational round
    algebra as discovery.expand_sitemaps — plausibility gate, <loc>/TXT
    link lift, language + same-domain filters, child sitemaps
    (DETECT_SITEMAP_LINK) become the next frontier bounded by
    ``max_sitemaps_seen``, the rest accumulate as page URLs.  The armed
    filter travels with each frontier row (``filter_host``) so children
    inherit their seed's filter; a sitemap reachable from several seeds
    is fetched once with the least restrictive filter.

    The seed robots/HEAD probes are driver-side (seed lists are
    CLI-scale); the per-round sitemap fetches are the distributed
    per-host-partitioned stage.  Every fetch round is cut with
    localCheckpoint so downstream reuse never re-executes HTTP lineage.
    Returns distinct (sitemap_url, link) page rows."""
    from urllib.parse import urlparse

    from .discovery import (DETECT_SITEMAP_LINK, _similar_host,
                            clean_url_col, extract_robots_sitemaps,
                            guess_sitemap_urls, is_plausible_sitemap,
                            lang_filter, resolve_sitemap_link,
                            sitemap_links)
    from .downloads import _send_request, is_live_page

    empty = spark.createDataFrame([], "sitemap_url string, link string")
    # (sitemap_url, filter_host | None, seed_host) — the seed host rides
    # every frontier row: the domain gate compares links to the SEED's
    # domain (sitemaps.dart:111-119), not the sitemap document's host,
    # so a robots.txt pointing at a CDN-hosted sitemap still yields the
    # site's pages
    candidates: list[tuple] = []
    robots_seen: dict = {}
    for s in dict.fromkeys(seeds):
        u = urlparse(s)
        if not u.netloc:
            continue
        base = f"{u.scheme or 'https'}://{u.netloc}"
        # probe base + '/' — the same HTTP request as the bare authority
        # (path defaults to '/'), and the form pluggable transports key on
        if not is_live_page(base + "/", transport=transport):
            continue            # sitemaps.dart:234-236
        if s.endswith((".xml", ".gz", "sitemap")):
            candidates.append((s, None, u.hostname))
            continue
        filter_host = u.hostname if len(s) > len(base) + 2 else None
        if base not in robots_seen:
            resp = _send_request(f"{base}/robots.txt", transport, config)
            robots = (resp.data.decode("utf-8", "replace")
                      if resp is not None and resp.status == 200 else None)
            robots_seen[base] = extract_robots_sitemaps(robots, base)
        from_robots = robots_seen[base]
        candidates.extend(
            (c, filter_host, u.hostname)
            for c in (from_robots or guess_sitemap_urls(base + "/")))

    if not candidates:
        return empty
    # one row per sitemap url; None (no filter) wins when seeds disagree
    by_url: dict = {}
    for url, fh, sh in candidates:
        if url not in by_url or fh is None:
            by_url[url] = (fh, sh)
    frontier = spark.createDataFrame(
        [(u, fh, sh) for u, (fh, sh) in by_url.items()],
        "url string, filter_host string, seed_host string")
    seen = frontier.select("url")
    seen_count = seen.count()
    pages = None
    for rnd in range(max_rounds):
        fetched = fetch_binary_documents(frontier.select("url"),
                                         transport=transport, config=config,
                                         partitions=partitions)
        docs = (fetched.filter(F.col("status") == 200)
                .select("url", F.col("content").cast("string").alias("xml"))
                .filter(is_plausible_sitemap(F.col("url"), F.col("xml")))
                # cut HTTP lineage NOW: both the page and nested branches
                # below re-read this frame, and lineage re-execution would
                # re-fetch every sitemap
                .localCheckpoint()
                .join(F.broadcast(frontier), "url"))
        links = docs.select(
            F.col("url").alias("sitemap_url"), "filter_host", "seed_host",
            F.explode(sitemap_links(F.col("xml"), max_links,
                                    target_lang)).alias("link"),
        ).withColumn("link", resolve_sitemap_link(F.col("link"),
                                                  F.col("sitemap_url"))) \
         .withColumn("link", clean_url_col(F.col("link"))).distinct()
        if target_lang:
            links = links.filter(lang_filter(F.col("link"), target_lang))
        # domain gate vs the SEED host (sitemaps.dart:111-119)
        links = links.filter(_similar_host(
            F.parse_url(F.col("link"), F.lit("HOST")),
            F.col("seed_host")))
        pg = links.filter(~F.col("link").rlike(DETECT_SITEMAP_LINK))
        # the armed seed's final page filter (filterUrls: exact hostname)
        pg = pg.filter(F.col("filter_host").isNull()
                       | (F.parse_url(F.col("link"), F.lit("HOST"))
                          == F.col("filter_host"))) \
               .select("sitemap_url", "link")
        pages = pg if pages is None else pages.unionByName(pg)
        budget = max_sitemaps_seen - seen_count
        if budget <= 0:
            break
        # one frontier row per child sitemap; when parents disagree the
        # unfiltered lineage wins (F.min skips nulls, so route through a
        # ''-coalesce: '' sorts first and maps back to null)
        nested = (links.filter(F.col("link").rlike(DETECT_SITEMAP_LINK))
                  .select(F.col("link").alias("url"), "filter_host",
                          "seed_host")
                  .join(seen, "url", "left_anti")
                  .groupBy("url")
                  .agg(F.nullif(F.min(F.coalesce("filter_host", F.lit(""))),
                                F.lit("")).alias("filter_host"),
                       F.min("seed_host").alias("seed_host"))
                  .limit(budget).localCheckpoint())
        n = nested.count()
        if n == 0:
            break
        seen = seen.unionByName(nested.select("url")).localCheckpoint()
        seen_count += n
        frontier = nested
    if pages is None:
        return empty
    return pages.distinct().localCheckpoint()


def explore_and_extract(spark: SparkSession, seeds: list[str],
                        transport=default_transport, options=None,
                        target_lang: str | None = None,
                        config: dict | None = None,
                        partitions: int | None = None,
                        serialize: str | None = None,
                        url_filter: list[str] | None = None,
                        url_blacklist: frozenset | None = None,
                        backup_path: str | None = None,
                        backup_format: str = "parquet") -> DataFrame:
    """The reference CLI's --explore path (cli.dart:344 → cliDiscovery →
    urlProcessingPipeline): live sitemap discovery from the seed hosts,
    then fetch every discovered page URL (per-host partitioned,
    politeness-capable) and run the standard extraction operator.
    ``url_filter`` / ``url_blacklist`` gate the discovered page list
    before any page fetch (the CLI doc's promise for --url-filter +
    --sitemap).  ``backup_path`` keeps the raw fetched pages as parquet
    (--backup-dir analog)."""
    page_urls = live_sitemap_pages(spark, seeds, transport=transport,
                                   target_lang=target_lang, config=config,
                                   partitions=partitions) \
        .select("link").distinct() \
        .withColumnRenamed("link", "url")
    return fetch_and_extract_urls(page_urls, transport=transport,
                                  options=options, config=config,
                                  partitions=partitions, serialize=serialize,
                                  url_filter=url_filter,
                                  url_blacklist=url_blacklist,
                                  backup_path=backup_path,
                                  backup_format=backup_format)


def gate_urls(df: DataFrame, url_filter: list[str] | None = None,
              url_blacklist: frozenset | None = None,
              col: str = "url") -> DataFrame:
    """The reference CLI's loadInputDict URL gates
    (cli_utils.dart:153-170) as JVM row filters: drop exact blacklist
    matches, then keep only URLs containing at least one filter
    substring.  Shared by the job CLI's discovery sinks, the crawl
    frontier and the discovery-driven fetch tails — one implementation,
    no drift."""
    if url_blacklist:
        df = df.filter(~F.col(col).isin(*url_blacklist))
    if url_filter:
        keep = F.col(col).contains(url_filter[0])
        for sub in url_filter[1:]:
            keep = keep | F.col(col).contains(sub)
        df = df.filter(keep)
    return df


def fetch_and_extract_urls(page_urls: DataFrame, transport=default_transport,
                           options=None, config: dict | None = None,
                           partitions: int | None = None,
                           serialize: str | None = None,
                           url_filter: list[str] | None = None,
                           url_blacklist: frozenset | None = None,
                           backup_path: str | None = None,
                           backup_format: str = "parquet") -> DataFrame:
    """Shared tail of the discovery-driven drivers (explore/feed): gate
    the discovered URL list (loadInputDict semantics), fetch per-host
    partitioned, optionally back up the raw pages (url, hop, status,
    html — the crawl-backup contract, with hop pinned to 0 because
    discovery URLs are all frontier depth 0), then extract."""
    page_urls = gate_urls(page_urls, url_filter, url_blacklist)
    fetched = fetch_binary_documents(page_urls, transport=transport,
                                     config=config, partitions=partitions)
    pages = fetched.select(
        "url", F.lit(0).alias("hop"), "status",
        F.when(F.col("status") == 200,
               F.col("content").cast("string")).alias("html")) \
        .localCheckpoint()
    if backup_path:
        _write_backup(pages, backup_path, backup_format)
    return extract_fetched_pages(pages.drop("status", "hop"), options,
                                 serialize=serialize)


def feed_and_extract(spark: SparkSession, seeds: list[str],
                     transport=default_transport, options=None,
                     target_lang: str | None = None,
                     config: dict | None = None,
                     partitions: int | None = None,
                     serialize: str | None = None,
                     url_filter: list[str] | None = None,
                     url_blacklist: frozenset | None = None,
                     backup_path: str | None = None,
                     backup_format: str = "parquet") -> DataFrame:
    """The reference CLI's --feed path (cliDiscovery with findFeedUrls):
    live feed discovery from the seeds, then fetch + extract every
    discovered article URL."""
    page_urls = live_feed_pages(spark, seeds, transport=transport,
                                target_lang=target_lang, config=config,
                                partitions=partitions) \
        .select("link").distinct() \
        .withColumnRenamed("link", "url")
    return fetch_and_extract_urls(page_urls, transport=transport,
                                  options=options, config=config,
                                  partitions=partitions, serialize=serialize,
                                  url_filter=url_filter,
                                  url_blacklist=url_blacklist,
                                  backup_path=backup_path,
                                  backup_format=backup_format)


def live_feed_pages(spark: SparkSession, seeds: list[str],
                    transport=default_transport,
                    target_lang: str | None = None,
                    config: dict | None = None,
                    partitions: int | None = None) -> DataFrame:
    """Live findFeedUrls (feeds.dart:368-431, the --feed discovery
    stage): fetch each seed; a direct feed yields its links immediately
    (extractLinks branch), a homepage yields candidate feed URLs
    (determineFeed) which one more distributed round fetches and
    extracts.  Deep seed URLs (longer than base + 2) arm the reference's
    same-host urlfilter over the homepage branch's links; seeds whose
    branches yield nothing fall back to the Google-News RSS probe
    (probeGnews, feeds.dart:351-363 — requires ``target_lang``), fetched
    through the same transport.  Returns distinct (seed, link) rows.

    The reference's tryHomepage retry (feeds.dart:425-438 — re-run a
    failed deep seed at its base URL) is applied AFTER the first round,
    only to the seeds that actually failed, so no seed is fetched twice
    (the naive probe-then-fetch shape would double every request)."""
    from pyspark.sql import types as T

    from .feeds import (FeedParameters, determine_feed, extract_links,
                        filter_urls, get_host_info)

    seeds = list(dict.fromkeys(seeds))
    seed_df = spark.createDataFrame([(s,) for s in seeds], "seed string")
    fetched0 = fetch_binary_documents(seed_df.withColumnRenamed("seed", "url"),
                                      transport=transport, config=config,
                                      partitions=partitions).localCheckpoint()

    # tryHomepage: retry failed deep seeds at their base URL, once.  The
    # failed list rides a driver-side loop through the same transport —
    # capped at _DRIVER_LOOP_CAP so a crawl-scale seeds file cannot
    # silently serialize fetches on the driver.
    failed = [r["url"] for r in
              fetched0.filter(F.col("status").isNull()
                              | (F.col("status") != 200))
              .select("url").collect()]
    if len(failed) > _DRIVER_LOOP_CAP:
        import warnings
        warnings.warn(
            f"{len(failed)} failed seeds; homepage retries truncated to "
            f"the first {_DRIVER_LOOP_CAP} (driver-side loop cap)",
            stacklevel=2)
        failed = failed[:_DRIVER_LOOP_CAP]
    # slash-insensitive membership: 'https://x.com' as a seed and the
    # retry's 'https://x.com/' are the same request — exact-string
    # membership fetched the homepage twice
    already = {s.rstrip("/") for s in seeds}
    retry_rows = []
    retried_away: set = set()
    last_by_host: dict = {}
    for s in failed:
        _, base = get_host_info(s)
        if not base or s.rstrip("/") == base:
            continue  # the failed seed IS the homepage: nothing to retry
        # the reference's recursion replaces the deep seed entirely
        # (feeds.dart:424-428): the gnews fallback, if any, belongs to
        # the BASE url's run, never the original deep seed — EVERY
        # failed deep seed retires, including the second one on a base
        # already retried (it would otherwise fall through to a
        # duplicate gnews probe)
        retried_away.add(s)
        if base in already:
            continue  # homepage already a seed or already retried
        already.add(base)
        base_url = base + "/"
        seeds.append(base_url)
        resp = _polite_send(base_url, transport, config, last_by_host)
        if resp is not None and resp.status == 200:
            retry_rows.append((base_url, 200, bytearray(resp.data)))
    if retry_rows:
        fetched0 = fetched0.unionByName(spark.createDataFrame(
            retry_rows, fetched0.schema))

    r0_schema = T.StructType([
        T.StructField("seed", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("link", T.StringType(), False),
    ])

    def classify(it):
        import pandas as pd
        for pdf in it:
            rows = []
            for url, status, content in zip(pdf["url"], pdf["status"],
                                            pdf["content"]):
                if status != 200 or content is None:
                    continue
                text = bytes(content).decode("utf-8", "replace")
                domain, base = get_host_info(url)
                if domain is None:
                    continue
                params = FeedParameters(base=base, domain=domain,
                                        reference=url, lang=target_lang)
                direct = extract_links(text, params)
                if direct:
                    rows.extend((url, "page", ln) for ln in direct)
                else:
                    rows.extend((url, "feed", ln)
                                for ln in determine_feed(text, params))
            yield pd.DataFrame(rows, columns=["seed", "kind", "link"])

    classified = fetched0.mapInPandas(classify, r0_schema).localCheckpoint()

    pages = classified.filter(F.col("kind") == "page") \
        .select("seed", "link")
    feed_cands = classified.filter(F.col("kind") == "feed") \
        .select("seed", F.col("link").alias("feed_url"))

    fetched1 = fetch_binary_documents(
        feed_cands.select(F.col("feed_url").alias("url")).distinct(),
        transport=transport, config=config, partitions=partitions) \
        .localCheckpoint()

    r1_schema = T.StructType([
        T.StructField("feed_url", T.StringType(), False),
        T.StructField("link", T.StringType(), False),
    ])

    def feed_extract(it):
        import pandas as pd
        for pdf in it:
            rows = []
            for url, status, content in zip(pdf["url"], pdf["status"],
                                            pdf["content"]):
                if status != 200 or content is None:
                    continue
                text = bytes(content).decode("utf-8", "replace")
                domain, base = get_host_info(url)
                if domain is None:
                    continue
                params = FeedParameters(base=base, domain=domain,
                                        reference=url, lang=target_lang)
                rows.extend((url, ln) for ln in extract_links(text, params))
            yield pd.DataFrame(rows, columns=["feed_url", "link"])

    feed_pages = (fetched1.mapInPandas(feed_extract, r1_schema)
                  .join(F.broadcast(feed_cands), "feed_url")
                  .select("seed", "link"))

    # urlfilter (feeds.dart:403-421): armed ONLY when the homepage branch
    # ran (the direct-feed branch returns before arming) and the seed is
    # deep — so the filter applies to feed_pages, never to the direct
    # `pages`.  Arming is a pure length rule against scheme://netloc
    # (regexp, not parse_url HOST, which would drop the port and mis-arm
    # ':8080' seeds); the host compare itself is hostname equality.
    seed_host = F.parse_url(F.col("seed"), F.lit("HOST"))
    link_host = F.parse_url(F.col("link"), F.lit("HOST"))
    base_len = F.length(
        F.regexp_extract(F.col("seed"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*",
                         0))
    feed_pages = feed_pages.filter((F.length("seed") <= base_len + 2)
                                   | (link_host == seed_host))
    pages = pages.unionByName(feed_pages).distinct().localCheckpoint()

    # probeGnews (feeds.dart:351-363): seeds with no links at all fall
    # back to the Google-News RSS search for their domain; driver-side
    # per empty seed (CLI-scale), through the same transport
    if target_lang:
        got = {r["seed"] for r in pages.select("seed").distinct().collect()}
        extra = []
        probes = 0
        for s in seeds:
            # a retried-away deep seed belongs to its base url's run now
            # (feeds.dart:424-428) — probing gnews for it would issue a
            # request the reference never makes (and a duplicate one if
            # the base is also linkless)
            if s in got or s in retried_away:
                continue
            domain, base = get_host_info(s)
            if domain is None:
                continue
            probes += 1
            if probes > _DRIVER_LOOP_CAP:
                import warnings
                warnings.warn(
                    f"gnews probes truncated at {_DRIVER_LOOP_CAP} "
                    "linkless seeds (driver-side loop cap)", stacklevel=2)
                break
            gurl = (f"https://news.google.com/rss/search?q=site:{domain}"
                    f"&hl={target_lang}&scoring=n&num=100")
            resp = _polite_send(gurl, transport, config, last_by_host)
            if resp is None or resp.status != 200:
                continue
            params = FeedParameters(base=base, domain=domain, reference=s,
                                    lang=target_lang)
            links = extract_links(resp.data.decode("utf-8", "replace"),
                                  params)
            armed = len(s) > len(base) + 2
            extra.extend((s, ln) for ln in
                         filter_urls(links, s if armed else None))
        if extra:
            pages = pages.unionByName(
                spark.createDataFrame(extra, "seed string, link string")) \
                .distinct()
    return pages
