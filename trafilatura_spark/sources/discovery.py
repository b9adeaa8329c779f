"""Feed / sitemap discovery as DataFrame operators.

Re-expression of the reference's crawling-adjacent parsers
(/root/reference/lib/src/feeds.dart:228-350, sitemaps.dart:15-21,
53-188) for batch corpora: given a column of fetched XML documents,
extract candidate URLs with JVM-side regex ops (`regexp_extract_all`) —
no Python in the loop, so discovery over billions of fetched sitemaps is
a scan-bound map.

The reference's HTTP fetching itself is out of scope for the batch north
rule (downloads.dart); streaming ingestion composes via
``trafilatura_spark.streaming``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# sitemaps.dart:15: <loc>…</loc> entries, CDATA-tolerant
_SITEMAP_LOC = r"<loc>(?:<!\[CDATA\[)?(http.+?)(?:\]\]>)?</loc>"
# sitemaps.dart:31: a <loc> link that is itself a (nested) sitemap
DETECT_SITEMAP_LINK = r"\.xml(\..{2,4})?$|\.xml[?#]"
# sitemaps.dart:28: xml/sitemap/urlset leader marks the XML sitemap format
SITEMAP_FORMAT = r"^.{0,5}<\?xml|<sitemap|<urlset"
# sitemaps.dart:34: plain-text sitemap fallback (one URL per line)
_DETECT_TXT_LINKS = r"https?://[^\s<\"]+"
# feeds.dart:39-63: RSS <link>…</link>, Atom <link … href="…">, and
# JSON-feed "url": "…" entries
_RSS_LINK = r"<link>(?:\s*<!\[CDATA\[)?\s*(https?://.*?)\s*(?:\]\]>\s*)?</link>"
# rel="self" is the feed's own URL, not an article link (feeds.dart:120)
_ATOM_HREF = (r'<link(?![^>]*rel=["\']self["\'])'
              r'[^>]*?href=["\']([^"\']+)["\']')
_JSON_URL = r'"url"\s*:\s*"([^"]+)"'


def extract_sitemap_urls(df: DataFrame, xml_col: str = "xml",
                         id_col: str = "source") -> DataFrame:
    """One row per <loc> URL, document order preserved via posexplode."""
    return (
        df.select(F.col(id_col),
                  F.posexplode(F.regexp_extract_all(F.col(xml_col),
                                                    F.lit(_SITEMAP_LOC), 1))
                  .alias("pos", "url"))
    )


def extract_feed_urls(df: DataFrame, xml_col: str = "xml",
                      id_col: str = "source") -> DataFrame:
    """RSS + Atom link extraction, de-duplicated per feed."""
    links = F.array_union(
        F.array_union(
            F.regexp_extract_all(F.col(xml_col), F.lit(_RSS_LINK), 1),
            F.regexp_extract_all(F.col(xml_col), F.lit(_ATOM_HREF), 1),
        ),
        F.when(F.trim(F.col(xml_col)).startswith("{"),
               F.regexp_extract_all(F.col(xml_col), F.lit(_JSON_URL), 1))
        .otherwise(F.array().cast("array<string>")),
    )
    return df.select(F.col(id_col), F.explode(links).alias("url")).distinct()


# sitemaps.dart:44-50 default guesses
SITEMAP_GUESSES = ["sitemap.xml", "sitemap.xml.gz", "sitemap",
                   "sitemap_index.xml", "sitemap_news.xml"]

# sitemaps.dart:15-21 hreflang alternates
_HREFLANG_HREF = r'href="([^"]+)"'


def guess_sitemap_urls(homepage: str) -> list[str]:
    """Base URL + domain + candidate sitemap locations
    (sitemaps.dart:219-289 sitemapSearch bootstrap)."""
    from urllib.parse import urlparse
    u = urlparse(homepage)
    base = f"{u.scheme}://{u.netloc}"
    return [f"{base}/{g}" for g in SITEMAP_GUESSES]


def extract_hreflang_urls(df: DataFrame, xml_col: str = "xml",
                          id_col: str = "source",
                          lang: str | None = None) -> DataFrame:
    """hreflang alternate links from sitemap XML (sitemaps.dart:324-368);
    optional language filter on the hreflang attribute.  Patterns are
    attribute-order-independent and quote-agnostic (hreflang may precede
    or follow href; x-default alternates count for any target lang),
    mirroring sitemap_links."""
    pat = (rf'<xhtml:link(?=[^>]*hreflang=["\'](?:{lang}[^"\']*|x-default)'
           rf'["\'])[^>]*href=["\']([^"\']+)["\']'
           if lang else r'<xhtml:link[^>]*href=["\']([^"\']+)["\']')
    return (
        df.select(F.col(id_col),
                  F.explode(F.regexp_extract_all(F.col(xml_col),
                                                 F.lit(pat), 1)).alias("url"))
        .distinct()
    )


def is_plausible_sitemap(url: Column, content: Column) -> Column:
    """isPlausibleSitemap (sitemaps.dart:291-311): an .xml URL whose body
    lacks the sitemap format marker, or an HTML page, is not a sitemap."""
    scrubbed = F.regexp_replace(url, r"[?#].*$", "")
    is_fmt = content.rlike(SITEMAP_FORMAT)
    xml_url = scrubbed.rlike(r"\.xml\b")
    htmlish = (F.length(content) > 150) & \
        F.lower(F.substring(content, 1, 150)).contains("<html")
    return content.isNotNull() & ~(xml_url & ~is_fmt) & ~htmlish


def sitemap_links(xml_col: Column, max_links: int = 10_000,
                  target_lang: str | None = None) -> Column:
    """All <loc> links of an XML sitemap, or the per-line URLs of a TXT
    sitemap (process(), sitemaps.dart:160-177), capped at ``max_links``
    per document (extractLinks cap, sitemaps.dart:128-139).

    With ``target_lang``, hreflang alternates matching the language (or
    x-default) take precedence when the document carries any
    (extractSitemapLanglinks, sitemaps.dart:141-158)."""
    xml_links = F.regexp_extract_all(xml_col, F.lit(_SITEMAP_LOC), 1)
    if target_lang:
        # attribute-order-independent and quote-agnostic, mirroring the
        # reference's two-step whole-tag match (hreflang may precede or
        # follow href, single or double quotes)
        lang_pat = (rf'<xhtml:link(?=[^>]*hreflang=["\'](?:{target_lang}'
                    rf'[^"\']*|x-default)["\'])[^>]*href=["\']([^"\']+)["\']')
        lang_links = F.regexp_extract_all(xml_col, F.lit(lang_pat), 1)
        xml_links = F.when(F.size(lang_links) > 0, lang_links) \
                     .otherwise(xml_links)
    txt_links = F.regexp_extract_all(xml_col, F.lit(_DETECT_TXT_LINKS), 0)
    links = F.when(xml_col.rlike(SITEMAP_FORMAT), xml_links) \
             .otherwise(txt_links)
    return F.slice(links, 1, max_links)


# sitemaps.dart:184-198 — URL-level language filter: drop links carrying an
# explicit other-language marker
_URL_LANG_MARKER = r"(?i)/[a-z]{2}(-[a-z]{2})?/|[?&]lang=([a-z]{2})"


def lang_filter(url_col: Column, target_lang: str) -> Column:
    """True if the URL has no explicit language marker, or the marker
    contains the target language (_langFilter, sitemaps.dart:184-198)."""
    marker = F.lower(F.regexp_extract(url_col, _URL_LANG_MARKER, 0))
    return (marker == "") | marker.contains(target_lang.lower())


# sitemaps.dart:23-26 — blogging platforms exempt from the domain gate
WHITELISTED_PLATFORMS = (r"(?:blogger|blogpost|ghost|hubspot|livejournal|"
                         r"medium|typepad|squarespace|tumblr|weebly|wix|"
                         r"wordpress)\.")

_TRACKING_PARAM_PAT = (r"(?i)[?&](?:utm_source|utm_medium|utm_campaign|"
                       r"utm_content|utm_term|fbclid|gclid|ref|source)"
                       r"=[^&#]*")


def clean_url_col(url: Column) -> Column:
    """cleanUrl analog as a JVM expression (feeds.dart:166-182): strip
    common tracking parameters, repair the separator, trim leftovers."""
    stripped = F.regexp_replace(url, _TRACKING_PARAM_PAT, "")
    fixed = F.regexp_replace(stripped, r"^([^?&#]*)&", "$1?")
    return F.regexp_replace(fixed, r"[?&]$", "")


def _similar_host(host_a: Column, host_b: Column) -> Column:
    """Relational stand-in for isSimilarDomain on the sitemap frontier:
    equal after www./extension strip, or subdomain-suffix relation, or a
    whitelisted blogging platform.  (The reference's fuzzy char-overlap
    formula lives in operators.deduplication.is_similar_domain for the
    Python cascade paths; a per-char expression is not worth the cost on
    a billion-link frontier.)"""
    def strip(h: Column) -> Column:
        no_www = F.regexp_replace(F.lower(h), r"^www\.", "")
        return F.regexp_replace(no_www, r"\.[^.]+$", "")
    a, b = strip(host_a), strip(host_b)
    return ((a == b)
            | F.lower(host_a).rlike(WHITELISTED_PLATFORMS)
            | a.endswith(F.concat(F.lit("."), b))
            | b.endswith(F.concat(F.lit("."), a)))


def resolve_sitemap_link(link: Column, src: Column) -> Column:
    """Resolve a possibly-relative sitemap/hreflang link against its
    sitemap document's URL (fixRelativeUrls semantics — the reference's
    handleLink resolves BEFORE the domain gate, sitemaps.dart:95-125;
    unresolved relative links have a NULL parse_url host and the gate
    silently dropped every one of them)."""
    scheme = F.coalesce(F.parse_url(src, F.lit("PROTOCOL")), F.lit("https"))
    auth = F.regexp_extract(src, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    base = F.concat(scheme, F.lit("://"), auth)
    src_dir = F.when(src.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*$"),
                     F.concat(src, F.lit("/"))) \
        .otherwise(F.regexp_replace(src, r"[^/]*$", ""))
    return F.when(link.rlike("^https?://"), link) \
        .when(link.startswith("//"), F.concat(F.lit("https:"), link)) \
        .when(link.startswith("/"), F.concat(base, link)) \
        .when(link.rlike("^[a-zA-Z]+:"), link) \
        .otherwise(F.concat(src_dir, link))


def expand_sitemaps(fetched: DataFrame, seeds: DataFrame,
                    url_col: str = "url", xml_col: str = "xml",
                    max_sitemaps_seen: int = 10_000,
                    max_rounds: int = 10,
                    max_links: int = 10_000,
                    target_lang: str | None = None,
                    external: bool = False) -> DataFrame:
    """Iterative sitemap-index expansion (the sitemapSearch loop,
    sitemaps.dart:267-283) over a table of already-fetched sitemap
    documents: the offline document source of :func:`_sitemap_rounds`,
    the loop ``crawl.live_sitemap_pages`` runs over live fetches.

    ``fetched`` is (url, xml): the batch analog of the reference's
    fetch() — at scale this is the crawl store.  The store is scanned
    ONCE: the plausible-sitemap subset (a sliver of a real crawl store,
    where page documents vastly outnumber sitemaps) is projected to two
    columns and persisted before the loop, so each round joins the
    broadcast frontier against that subset instead of rescanning the
    full store.  The domain gate compares links against the SEED's
    domain: a robots.txt-declared CDN-hosted sitemap enters with the
    site's domain when ``seeds`` carries a ``seed_host`` column;
    otherwise it derives from the sitemap URL itself.  Returns distinct
    page URLs with the sitemap URL they came from.
    """
    seed_host = (F.col("seed_host") if "seed_host" in seeds.columns
                 else F.parse_url(F.col(url_col), F.lit("HOST")))
    frontier = seeds.select(F.col(url_col).alias("url"),
                            F.lit(None).cast("string").alias("filter_host"),
                            seed_host.alias("seed_host"))
    store = (fetched.select(F.col(url_col).alias("url"),
                            F.col(xml_col).alias("xml"))
             .filter(is_plausible_sitemap(F.col("url"), F.col("xml")))
             .persist())
    try:
        return _sitemap_rounds(frontier, lambda _frontier: store,
                              max_sitemaps_seen=max_sitemaps_seen,
                              max_rounds=max_rounds, max_links=max_links,
                              target_lang=target_lang, external=external)
    finally:
        store.unpersist()


def _sitemap_rounds(frontier: DataFrame, documents,
                   max_sitemaps_seen: int = 10_000, max_rounds: int = 10,
                   max_links: int = 10_000,
                   target_lang: str | None = None,
                   external: bool = False) -> DataFrame:
    """The sitemapSearch loop (sitemaps.dart:267-283) as anti-join
    frontier rounds — same shape as ``spider.bfs_frontier``.

    ``frontier`` is (url, filter_host, seed_host): the seed host rides
    every row because the domain gate compares links against the SEED's
    domain (the reference fixes it at SitemapObject creation,
    sitemaps.dart:111-119), and a non-null ``filter_host`` is a deep
    seed's final exact-hostname page filter (filterUrls,
    sitemaps.dart:245-247 + 283-285) that child sitemaps inherit.
    ``documents(frontier)`` gives the round's (url, xml) sitemap
    documents; it is the one input the offline store and the live fetch
    differ in.  Each round lifts <loc>/TXT links (hreflang-first with
    ``target_lang``), resolves, cleans, language- and domain-gates them;
    links that are themselves sitemaps (DETECT_SITEMAP_LINK) become the
    next frontier, bounded by ``max_sitemaps_seen`` in total
    (maxSitemapsSeen), and the rest accumulate as page URLs.  A child
    reachable from several parents keeps the least restrictive
    filter_host.  Frontier and seen set are cut with localCheckpoint
    every round; the page rows of all rounds are materialized once at
    the end.  Returns distinct (sitemap_url, link) page rows."""
    spark = frontier.sparkSession
    empty = spark.createDataFrame([], "sitemap_url string, link string")
    frontier = frontier.distinct().localCheckpoint()
    seen = frontier.select("url").distinct()
    seen_count = seen.count()
    if seen_count == 0:
        return empty
    pages = None
    for _ in range(max_rounds):
        docs = documents(frontier).join(F.broadcast(frontier), "url")
        links = docs.select(
            F.col("url").alias("sitemap_url"), "filter_host", "seed_host",
            F.explode(sitemap_links(F.col("xml"), max_links,
                                    target_lang)).alias("link"),
        ).withColumn("link", resolve_sitemap_link(F.col("link"),
                                                  F.col("sitemap_url"))) \
         .withColumn("link", clean_url_col(F.col("link"))).distinct()
        if target_lang:
            links = links.filter(lang_filter(F.col("link"), target_lang))
        if not external:
            # handleLink's domain gate vs the SEED domain
            # (sitemaps.dart:95-125)
            links = links.filter(_similar_host(
                F.parse_url(F.col("link"), F.lit("HOST")),
                F.col("seed_host")))
        pg = (links.filter(~F.col("link").rlike(DETECT_SITEMAP_LINK))
              .filter(F.col("filter_host").isNull()
                      | (F.parse_url(F.col("link"), F.lit("HOST"))
                         == F.col("filter_host")))
              .select("sitemap_url", "link"))
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


def extract_robots_sitemaps(robotstxt: str | None, baseurl: str) -> list[str]:
    """Sitemap: directives from robots.txt (sitemaps.dart:324-366):
    comment-stripped, case-insensitive key, deduped in order, relative
    URLs resolved against the base."""
    if robotstxt is None or len(robotstxt) > 10_000:
        return []
    candidates: list[str] = []
    for line in robotstxt.split("\n"):
        comment = line.find("#")
        if comment >= 0:
            line = line[:comment]
        line = line.strip()
        if not line:
            continue
        key, sep, value = line.partition(":")
        if sep and key.strip().lower() == "sitemap":
            value = value.strip()
            if value:
                candidates.append(value)
    seen: set[str] = set()
    out: list[str] = []
    for url in candidates:
        if url not in seen:
            seen.add(url)
            out.append(fix_relative_urls(baseurl, url))
    return out


def fix_relative_urls(baseurl: str, url: str) -> str:
    """Resolve a possibly-relative URL against a base (feeds.dart:137-159):
    protocol-relative gets https:, absolute paths get scheme://host, and
    bare relatives append to the base."""
    if url.startswith(("http://", "https://")):
        return url
    if url.startswith("//"):
        return f"https:{url}"
    if url.startswith("/"):
        from urllib.parse import urlparse
        u = urlparse(baseurl)
        if u.scheme and u.netloc:
            return f"{u.scheme}://{u.netloc}{url}"
    if not baseurl.endswith("/"):
        baseurl += "/"
    return baseurl + url


def filter_known(urls: DataFrame, known: DataFrame,
                 url_col: str = "url") -> DataFrame:
    """Crawl-frontier dedup (UrlStore analog): anti-join against the
    known-URL table — broadcast when small, shuffle-hash otherwise."""
    return urls.join(known.select(url_col).distinct(), url_col, "left_anti")
