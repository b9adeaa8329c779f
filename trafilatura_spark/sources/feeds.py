"""Feed determination cascade (feeds.dart:16-63, 92-345).

RSS / Atom / JSON-feed link extraction with the reference's MIME and
link-rel candidate tables, URL validation, tracking-param cleaning and
same-domain filtering.  The network fetch itself stays out of the batch
engine (north-rule input is a table); ``extract_links`` /
``determine_feed`` are pure per-document functions, and
``feed_links_df`` runs them Arrow-batched over a fetched-pages table.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from urllib.parse import parse_qsl, urlencode, urlparse, urlunparse

from .discovery import fix_relative_urls

# feeds.dart:16-36 — standard and potential feed MIME types
FEED_TYPES = frozenset({
    "application/atom", "application/atom+xml", "application/feed+json",
    "application/json", "application/rdf", "application/rdf+xml",
    "application/rss", "application/rss+xml", "application/x.atom+xml",
    "application/x-atom+xml", "application/xml", "text/atom",
    "text/atom+xml", "text/plain", "text/rdf", "text/rdf+xml", "text/rss",
    "text/rss+xml", "text/xml",
})

_FEED_OPENING = re.compile(r"<(feed|rss|\?xml)")
_LINK_ATTRS = re.compile(r'<link [^>]*href="[^"]+?"')
_LINK_HREF = re.compile(r'href="([^"]+?)"')
_LINK_ELEMENTS = re.compile(
    r"<link>(?:\s*)(?:<!\[CDATA\[)?(.+?)(?:\]\]>)?(?:\s*)</link>")
_BLACKLIST = re.compile(r"\bcomments\b")
# feeds.dart:56-63 — URL shapes that look like feeds
LINK_VALIDATION_RE = re.compile(
    r"\.(?:atom|rdf|rss|xml)$|"
    r"\b(?:atom|rss)\b|"
    r"\?type=100$|"
    r"feeds/posts/default/?$|"
    r"\?feed=(?:atom|rdf|rss|rss2)|"
    r"feed$")

_TRACKING_PARAMS = frozenset({
    "utm_source", "utm_medium", "utm_campaign", "utm_content", "utm_term",
    "fbclid", "gclid", "ref", "source",
})

MAX_LINKS = 10_000


@dataclass
class FeedParameters:
    """feeds.dart:66-89."""
    base: str
    domain: str
    reference: str
    external: bool = False
    lang: str | None = None


def is_potential_feed(feed_string: str) -> bool:
    """feeds.dart:92-100."""
    if _FEED_OPENING.search(feed_string):
        return True
    return "<rss" in feed_string[:100] or "<feed" in feed_string[:100]


def check_url(url: str) -> tuple[str, str] | None:
    """feeds.dart:136-155 — (url, host) if http(s) with a host."""
    try:
        u = urlparse(url)
    except ValueError:
        return None
    if u.scheme not in ("http", "https") or not u.netloc:
        return None
    return url, u.hostname or u.netloc


def is_valid_url(url: str) -> bool:
    return check_url(url) is not None


def clean_url(url: str) -> str:
    """Remove common tracking parameters (feeds.dart:166-182)."""
    try:
        u = urlparse(url)
    except ValueError:
        return url
    if not u.query:
        return url
    kept = [(k, v) for k, v in parse_qsl(u.query, keep_blank_values=True)
            if k.lower() not in _TRACKING_PARAMS]
    return urlunparse(u._replace(query=urlencode(kept)))


def get_host_info(url: str) -> tuple[str | None, str]:
    """feeds.dart:185-191 — (host, scheme://host)."""
    try:
        u = urlparse(url)
    except ValueError:
        return None, ""
    if not u.netloc:
        return None, ""
    return u.hostname or u.netloc, f"{u.scheme}://{u.netloc}"


def filter_urls(urls: list[str], urlfilter: str | None) -> list[str]:
    """Same-host filter (feeds.dart:194-207)."""
    if urlfilter is None:
        return urls
    want = urlparse(urlfilter).hostname
    if want is None:
        return urls
    return [u for u in urls if urlparse(u).hostname == want]


def find_links(feed_string: str, params: FeedParameters) -> list[str]:
    """Raw candidate links by feed flavor (feeds.dart:210-281):
    JSON-feed items, Atom <link href>, RSS <link> elements."""
    if not is_potential_feed(feed_string):
        if feed_string.strip().startswith("{"):
            try:
                doc = json.loads(feed_string)
                items = doc.get("items") or []
                return [item.get("url") or item.get("id")
                        for item in items
                        if item.get("url") or item.get("id")][:MAX_LINKS]
            except (json.JSONDecodeError, AttributeError):
                pass
        return []
    if "<link " in feed_string:
        links = []
        for m in _LINK_ATTRS.finditer(feed_string):
            link_str = m.group(0)
            if "atom+xml" in link_str or 'rel="self"' in link_str:
                continue
            href = _LINK_HREF.search(link_str)
            if href:
                links.append(href.group(1))
            if len(links) >= MAX_LINKS:
                break
        return links
    if "<link>" in feed_string:
        return [m.group(1).strip()
                for m in _LINK_ELEMENTS.finditer(feed_string)
                if m.group(1).strip()][:MAX_LINKS]
    return []


def handle_link_list(linklist: list[str],
                     params: FeedParameters) -> list[str]:
    """Validate candidates: fix relative, http(s)-check, same-domain gate
    unless external or feedburner/feedproxy (feeds.dart:103-133)."""
    from ..operators.deduplication import is_similar_domain
    out: list[str] = []
    seen: set[str] = set()
    for item in linklist:
        if item in seen:
            continue
        seen.add(item)
        link = fix_relative_urls(params.base, item)
        checked = check_url(link)
        if checked is not None:
            checked_url, checked_domain = checked
            if not params.external and "feed" not in link and \
                    not is_similar_domain(params.domain, checked_domain):
                continue
            out.append(checked_url)
        elif "feedburner" in item or "feedproxy" in item:
            out.append(item)
    return out


def extract_links(feed_string: str, params: FeedParameters) -> list[str]:
    """feeds.dart:284-297 — candidates → validated page links, dropping
    the reference URL itself and bare hosts."""
    if not feed_string:
        return []
    feed_links = find_links(feed_string.strip(), params)
    return [link for link in handle_link_list(feed_links, params)
            if link != params.reference and len(link.split("/")) > 3]


def determine_feed(htmlstring: str, params: FeedParameters) -> list[str]:
    """Find feed URLs in an HTML homepage (feeds.dart:300-345):
    link[rel=alternate] with a feed MIME type or feed-shaped href, anchor
    fallback, then refine (relative fix, tracking clean, validity,
    comment-feed blacklist)."""
    from ..core import load_html
    try:
        tree = load_html(htmlstring)
    except Exception:
        return []
    if tree is None:
        return []
    feed_urls: list[str] = []
    for link in tree.iterdesc("link"):
        if link.attrs.get("rel") != "alternate" or not link.attrs.get("href"):
            continue
        href = link.attrs["href"]
        if link.attrs.get("type", "") in FEED_TYPES or \
                LINK_VALIDATION_RE.search(href):
            feed_urls.append(href)
    if not feed_urls:
        for a in tree.iterdesc("a"):
            href = a.attrs.get("href", "")
            if href and LINK_VALIDATION_RE.search(href):
                feed_urls.append(href)
    out: list[str] = []
    seen: set[str] = set()
    for link in feed_urls:
        if link in seen:
            continue
        seen.add(link)
        link = fix_relative_urls(params.base, link)
        link = clean_url(link)
        if link and link != params.reference and is_valid_url(link) and \
                not _BLACKLIST.search(link):
            out.append(link)
    return out


def find_feed_links(content: str, url: str,
                    target_lang: str | None = None,
                    external: bool = False) -> list[str]:
    """Batch analog of findFeedUrls (feeds.dart:368-423) for an
    already-fetched document: treat it as a feed first; if that yields
    nothing, treat it as a homepage and return the *feed URLs to fetch
    next* (the caller owns the fetch loop, as with expand_sitemaps)."""
    return feed_branch_links(content, url, target_lang, external)[1]


def feed_branch_links(content: str, url: str,
                      target_lang: str | None = None,
                      external: bool = False) -> tuple[str, list[str]]:
    """:func:`find_feed_links` with the branch that fired: ``("page",
    links)`` when the document is a feed (extractLinks), ``("feed",
    candidates)`` when it is a homepage (determineFeed) — the live feed
    driver fetches only the second kind."""
    domain, baseurl = get_host_info(url)
    if domain is None:
        return "feed", []
    params = FeedParameters(base=baseurl, domain=domain, reference=url,
                            external=external, lang=target_lang)
    links = extract_links(content, params)
    if links:
        # direct-feed branch: reference returns these unfiltered
        # (urlfilter is only armed on the homepage branch,
        # feeds.dart:399-409)
        return "page", links
    return "feed", determine_feed(content, params)


def feed_links_df(df, url_col: str = "url", content_col: str = "content",
                  target_lang: str | None = None, external: bool = False):
    """Arrow-batched DataFrame form: (url, link) per discovered link."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for url, content in zip(pdf[url_col], pdf[content_col]):
                for link in find_feed_links(content or "", url,
                                            target_lang=target_lang,
                                            external=external):
                    rows.append((url, link))
            yield pd.DataFrame(rows, columns=["url", "link"])

    return df.mapInPandas(gen, "url string, link string")
