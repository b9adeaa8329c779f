"""Live vs offline sitemap discovery: ``crawl.live_sitemap_pages`` (fetch
through a transport) and ``discovery.expand_sitemaps`` (a stored
(url, xml) table) run the same rounds, so one fixture site must give the
same (sitemap_url, link) rows through both document sources."""

import pytest

from trafilatura_spark.sources.crawl import live_sitemap_pages
from trafilatura_spark.sources.discovery import expand_sitemaps


def _sm(body: str) -> str:
    return f'<?xml version="1.0"?>{body}'


def _alt(lang: str, href: str) -> str:
    return (f'<xhtml:link rel="alternate" hreflang="{lang}" '
            f'href="{href}"/>')


SITE = {
    "https://p.test/": "<html><body>home</body></html>",
    # two directives: a sitemap index and a plain-text sitemap
    "https://p.test/robots.txt": ("User-agent: *\n"
                                  "Sitemap: https://p.test/si.xml\n"
                                  "Sitemap: https://p.test/links.txt\n"),
    "https://p.test/si.xml": _sm(
        "<sitemapindex>"
        "<sitemap><loc>https://p.test/sm1.xml</loc></sitemap>"
        "<sitemap><loc>https://p.test/sm2.xml</loc></sitemap>"
        "</sitemapindex>"),
    # hreflang alternates: absolute, relative and x-default forms
    "https://p.test/sm1.xml": _sm(
        "<urlset>"
        "<url><loc>https://p.test/a1</loc>"
        + _alt("en", "https://p.test/en/a1") + _alt("de", "/de/a1")
        + "</url>"
        "<url><loc>https://p.test/a2</loc>"
        + _alt("x-default", "https://p.test/a2") + _alt("fr", "/fr/a2")
        + "</url></urlset>"),
    # one off-site <loc> next to an on-site one
    "https://p.test/sm2.xml": _sm(
        "<urlset><url><loc>https://p.test/a3</loc></url>"
        "<url><loc>https://other.test/offsite</loc></url></urlset>"),
    "https://p.test/links.txt": ("https://p.test/t1\n"
                                 "https://p.test/de/t2\n"),
    # page documents: present in the store, never plausible sitemaps
    "https://p.test/a1": "<html><body><p>a1</p></body></html>",
    "https://p.test/a3": "<html><body><p>a3</p></body></html>",
}


def _make_transport(site):
    # a nested closure is cloudpickled BY VALUE, so executors don't need
    # the test module on their import path
    def transport(method, url, headers, timeout, max_bytes=None):
        body = site.get(url)
        if body is None:
            return 404, {}, b"not found"
        return 200, {}, b"" if method == "HEAD" else body.encode()
    return transport


def _rows(df) -> set[tuple[str, str]]:
    return {(r["sitemap_url"], r["link"]) for r in df.collect()}


@pytest.mark.parametrize("target_lang", [None, "en"])
def test_live_and_offline_sitemap_rounds_agree(spark, target_lang):
    live = _rows(live_sitemap_pages(spark, ["https://p.test/"],
                                    transport=_make_transport(SITE),
                                    target_lang=target_lang))
    store = spark.createDataFrame(sorted(SITE.items()),
                                  "url string, xml string")
    seeds = spark.createDataFrame(
        [("https://p.test/si.xml", "p.test"),
         ("https://p.test/links.txt", "p.test")],
        "url string, seed_host string")
    offline = _rows(expand_sitemaps(store, seeds, target_lang=target_lang))
    assert live == offline
    sm1, sm2 = "https://p.test/sm1.xml", "https://p.test/sm2.xml"
    txt = "https://p.test/links.txt"
    if target_lang is None:
        want = {(sm1, "https://p.test/a1"), (sm1, "https://p.test/a2"),
                (sm2, "https://p.test/a3"), (txt, "https://p.test/t1"),
                (txt, "https://p.test/de/t2")}
    else:
        # hreflang en/x-default alternates replace sm1's <loc> links;
        # the URL-language filter drops the /de/ TXT link
        want = {(sm1, "https://p.test/en/a1"), (sm1, "https://p.test/a2"),
                (sm2, "https://p.test/a3"), (txt, "https://p.test/t1")}
    assert live == want
