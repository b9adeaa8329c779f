"""Sitemap recursion, robots.txt discovery, feed cascade tests
(sitemaps.dart:53-368, feeds.dart:16-63+300-434) against the
reference's own fixtures where available."""

import pytest


@pytest.fixture(scope="module")
def resources(reference_dir):
    return reference_dir / "test" / "resources"


def test_extract_robots_sitemaps():
    from trafilatura_spark.sources.discovery import extract_robots_sitemaps
    robots = (
        "# comment\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Sitemap: https://example.org/sitemap.xml\n"
        "sitemap: /sitemap2.xml   # trailing comment\n"
        "Sitemap: https://example.org/sitemap.xml\n"   # dup dropped
    )
    got = extract_robots_sitemaps(robots, "https://example.org")
    assert got == ["https://example.org/sitemap.xml",
                   "https://example.org/sitemap2.xml"]
    assert extract_robots_sitemaps(None, "https://example.org") == []
    assert extract_robots_sitemaps("x" * 10_001, "https://example.org") == []


def test_fix_relative_urls():
    from trafilatura_spark.sources.discovery import fix_relative_urls
    base = "https://example.org"
    assert fix_relative_urls(base, "https://a/b") == "https://a/b"
    assert fix_relative_urls(base, "//cdn.example.org/x") == \
        "https://cdn.example.org/x"
    assert fix_relative_urls(base + "/sub/dir", "/abs") == \
        "https://example.org/abs"
    assert fix_relative_urls(base, "rel.xml") == "https://example.org/rel.xml"


def test_sitemap_cdata_loc(spark, resources):
    from pyspark.sql import functions as F
    from trafilatura_spark.sources.discovery import sitemap_links
    xml = (resources / "sitemap2.xml").read_text()
    df = spark.createDataFrame([(xml,)], ["xml"])
    links = df.select(F.explode(sitemap_links(F.col("xml"))).alias("l")) \
        .collect()
    got = [r["l"] for r in links]
    assert "http://www.example.com/sitemap1.xml.gz" in got
    assert "http://www.example.com/sitemap2.xml.gz" in got  # CDATA form


def test_is_plausible_sitemap(spark):
    from pyspark.sql import functions as F
    from trafilatura_spark.sources.discovery import is_plausible_sitemap
    rows = [
        ("https://a/sitemap.xml", '<?xml version="1.0"?><urlset/>', True),
        ("https://a/sitemap.xml", "<html><body>404 not found" + "x" * 150,
         False),
        ("https://a/sitemap.xml", "just text, not xml", False),
        ("https://a/urls.txt", "https://a/1\nhttps://a/2", True),
    ]
    df = spark.createDataFrame([(u, c) for u, c, _ in rows], ["url", "xml"])
    got = [r["p"] for r in df.select(
        is_plausible_sitemap(F.col("url"), F.col("xml")).alias("p")).collect()]
    assert got == [want for _, _, want in rows]


def test_expand_sitemaps_recurses_index(spark):
    from trafilatura_spark.sources.discovery import expand_sitemaps
    index = ("<?xml version='1.0'?><sitemapindex>"
             "<sitemap><loc>https://ex.org/child1.xml</loc></sitemap>"
             "<sitemap><loc><![CDATA[https://ex.org/child2.xml]]></loc></sitemap>"
             "</sitemapindex>")
    child1 = ("<?xml version='1.0'?><urlset>"
              "<url><loc>https://ex.org/page1</loc></url>"
              "<url><loc>https://ex.org/page2</loc></url></urlset>")
    # child2 chains to a grandchild sitemap plus one page
    child2 = ("<?xml version='1.0'?><urlset>"
              "<url><loc>https://ex.org/deeper.xml</loc></url>"
              "<url><loc>https://ex.org/page3</loc></url></urlset>")
    deeper = ("<?xml version='1.0'?><urlset>"
              "<url><loc>https://ex.org/page4</loc></url></urlset>")
    fetched = spark.createDataFrame(
        [("https://ex.org/sitemap.xml", index),
         ("https://ex.org/child1.xml", child1),
         ("https://ex.org/child2.xml", child2),
         ("https://ex.org/deeper.xml", deeper)],
        ["url", "xml"])
    seeds = spark.createDataFrame([("https://ex.org/sitemap.xml",)], ["url"])
    pages = expand_sitemaps(fetched, seeds)
    got = {r["link"] for r in pages.collect()}
    assert got == {"https://ex.org/page1", "https://ex.org/page2",
                   "https://ex.org/page3", "https://ex.org/page4"}


def test_expand_sitemaps_respects_max_seen(spark):
    from trafilatura_spark.sources.discovery import expand_sitemaps
    index = ("<?xml version='1.0'?><sitemapindex>" + "".join(
        f"<sitemap><loc>https://ex.org/c{i}.xml</loc></sitemap>"
        for i in range(10)) + "</sitemapindex>")
    children = [(f"https://ex.org/c{i}.xml",
                 f"<?xml version='1.0'?><urlset><url>"
                 f"<loc>https://ex.org/p{i}</loc></url></urlset>")
                for i in range(10)]
    fetched = spark.createDataFrame(
        [("https://ex.org/sitemap.xml", index)] + children, ["url", "xml"])
    seeds = spark.createDataFrame([("https://ex.org/sitemap.xml",)], ["url"])
    # cap: 1 seed + at most 3 children fetched
    pages = expand_sitemaps(fetched, seeds, max_sitemaps_seen=4)
    assert pages.count() <= 3


def test_expand_sitemaps_budget_counts_distinct_seed_urls(spark):
    """max_sitemaps_seen counts sitemap URLs, not seed rows: one sitemap
    listed under two seed hosts is one sitemap seen, so a budget of 2
    still admits its child sitemap."""
    from trafilatura_spark.sources.discovery import expand_sitemaps
    index = ("<?xml version='1.0'?><sitemapindex>"
             "<sitemap><loc>https://ex.org/b.xml</loc></sitemap>"
             "</sitemapindex>")
    child = ("<?xml version='1.0'?><urlset>"
             "<url><loc>https://ex.org/p1</loc></url>"
             "<url><loc>https://ex.org/p2</loc></url></urlset>")
    fetched = spark.createDataFrame(
        [("https://ex.org/a.xml", index), ("https://ex.org/b.xml", child)],
        ["url", "xml"])
    seeds = spark.createDataFrame(
        [("https://ex.org/a.xml", "ex.org"),
         ("https://ex.org/a.xml", "www.ex.org")],
        "url string, seed_host string")
    got = {r["link"] for r in
           expand_sitemaps(fetched, seeds, max_sitemaps_seen=2).collect()}
    assert got == {"https://ex.org/p1", "https://ex.org/p2"}


def test_expand_sitemaps_txt_fallback(spark):
    from trafilatura_spark.sources.discovery import expand_sitemaps
    fetched = spark.createDataFrame(
        [("https://ex.org/urls", "https://ex.org/a\nhttps://ex.org/b\n")],
        ["url", "xml"])
    seeds = spark.createDataFrame([("https://ex.org/urls",)], ["url"])
    got = {r["link"] for r in expand_sitemaps(fetched, seeds).collect()}
    assert got == {"https://ex.org/a", "https://ex.org/b"}


def test_reference_sitemap_fixture_roundtrip(spark, resources):
    from trafilatura_spark.sources.discovery import expand_sitemaps
    xml = (resources / "sitemap.xml").read_text()
    fetched = spark.createDataFrame([("https://www.sitemaps.org/sitemap.xml",
                                      xml)], ["url", "xml"])
    seeds = spark.createDataFrame([("https://www.sitemaps.org/sitemap.xml",)],
                                  ["url"])
    got = {r["link"] for r in expand_sitemaps(fetched, seeds).collect()}
    assert "https://www.sitemaps.org/" in got
    assert "https://www.sitemaps.org/protocol.html" in got
    assert len(got) > 10


# -- feed determination cascade (feeds.dart:16-63, 92-345) -------------------

def _atom_params():
    from trafilatura_spark.sources.feeds import FeedParameters
    return FeedParameters(base="http://example.org", domain="example.org",
                          reference="http://example.org/feed")


def test_feed_atom_fixture(resources):
    from trafilatura_spark.sources.feeds import extract_links
    content = (resources / "feed1.atom").read_text()
    got = extract_links(content, _atom_params())
    assert "http://example.org/2003/12/13/atom03" in got
    # NOTE: the reference's rel="self" exclusion only fires when rel
    # precedes href in the tag (its _linkAttrs match stops at the href
    # value); this fixture has rel after href, so the link survives —
    # bit-compatible with feeds.dart:255-267
    assert "http://example.org/1000" in got


def test_feed_rss_fixture(resources):
    from trafilatura_spark.sources.feeds import FeedParameters, extract_links
    p = FeedParameters(base="http://www.example.com",
                       domain="www.example.com",
                       reference="http://www.example.com/feed")
    got = extract_links((resources / "feed2.rss").read_text(), p)
    assert got == ["http://www.example.com/main.html",
                   "http://www.example.com/blog/post/1"]


def test_feed_json_fixture(resources):
    from trafilatura_spark.sources.feeds import find_feed_links
    content = (resources / "feed.json").read_text()
    got = find_feed_links(content, "https://www.jsonfeed.org/feed.json")
    # external NPR links survive the domain gate because the URLs contain
    # 'feed' (utm_medium=JSONFeed), mirroring feeds.dart:118-121
    assert len(got) == 25
    assert all(u.startswith("https://www.npr.org/") for u in got)


def test_feed_same_domain_gate():
    from trafilatura_spark.sources.feeds import FeedParameters, extract_links
    p = _atom_params()
    rss = ("<rss><channel><link>http://example.org/a/b</link>"
           "<link>http://unrelated-zzz.net/x/y</link></channel></rss>")
    got = extract_links(rss, p)
    assert got == ["http://example.org/a/b"]
    p_ext = FeedParameters(base="http://example.org", domain="example.org",
                           reference="http://example.org/feed", external=True)
    assert "http://unrelated-zzz.net/x/y" in extract_links(rss, p_ext)


def test_determine_feed_link_rel():
    from trafilatura_spark.sources.feeds import determine_feed
    html = ('<html><head>'
            '<link rel="alternate" type="application/rss+xml" href="/feed.xml">'
            '<link rel="alternate" type="text/html" href="/plain-page">'
            '<link rel="alternate" href="/by-shape.rss">'
            '</head><body>'
            '<p>content filler so the dubious-html gate passes</p>'
            '<p>second paragraph</p></body></html>')
    got = determine_feed(html, _atom_params())
    assert got == ["http://example.org/feed.xml",
                   "http://example.org/by-shape.rss"]


def test_determine_feed_anchor_fallback_and_blacklist():
    from trafilatura_spark.sources.feeds import determine_feed
    html = ('<html><head><title>t</title></head><body>'
            '<a href="/blog/feed">subscribe</a>'
            '<a href="/comments/feed">comments</a>'
            '<a href="/regular-page">page</a>'
            '<p>filler</p></body></html>')
    got = determine_feed(html, _atom_params())
    # comment feeds blacklisted (feeds.dart:53), plain pages ignored
    assert got == ["http://example.org/blog/feed"]


def test_clean_url_strips_tracking():
    from trafilatura_spark.sources.feeds import clean_url
    assert clean_url("https://a.org/x?utm_source=tw&id=3&fbclid=z") == \
        "https://a.org/x?id=3"
    assert clean_url("https://a.org/x") == "https://a.org/x"


def test_feed_links_df(spark):
    from trafilatura_spark.sources.feeds import feed_links_df
    rss = ("<rss><channel><link>http://example.org/p/1</link>"
           "<link>http://example.org/p/2</link></channel></rss>")
    df = spark.createDataFrame([("http://example.org/feed", rss)],
                               ["url", "content"])
    got = {r["link"] for r in feed_links_df(df).collect()}
    assert got == {"http://example.org/p/1", "http://example.org/p/2"}


# -- spider robots compliance (spider.dart:106-177) ---------------------------

ROBOTS = """# example robots
User-agent: *
Disallow: /private/
Disallow: /tmp/
Allow: /private/public-bit/
Crawl-delay: 2

User-agent: specialcrawler
Disallow: /
"""


def test_parse_robots_and_can_fetch():
    from trafilatura_spark.sources.spider import can_fetch, parse_robots
    rules = parse_robots(ROBOTS)
    assert rules["disallow"] == ["/private/", "/tmp/"]
    assert rules["allow"] == ["/private/public-bit/"]
    assert rules["crawl_delay"] == 2.0
    assert can_fetch(rules, "https://ex.org/articles/1")
    assert not can_fetch(rules, "https://ex.org/private/x")
    assert can_fetch(rules, "https://ex.org/private/public-bit/x")  # allow wins
    # the specialcrawler block is not relevant for * / bot agents
    assert can_fetch(rules, "https://ex.org/")


def test_parse_robots_bot_block():
    from trafilatura_spark.sources.spider import can_fetch, parse_robots
    rules = parse_robots("User-agent: examplebot\nDisallow: /no-bots/\n")
    assert not can_fetch(rules, "https://ex.org/no-bots/page")


def test_filter_robots_frontier(spark):
    from trafilatura_spark.sources.spider import filter_robots, robots_rules_df
    robots = spark.createDataFrame([("ex.org", ROBOTS),
                                    ("open.org", None)],
                                   ["host", "robotstxt"])
    rules = robots_rules_df(robots)
    urls = spark.createDataFrame(
        [("https://ex.org/articles/1",),
         ("https://ex.org/private/x",),
         ("https://ex.org/private/public-bit/x",),
         ("https://open.org/anything",),
         ("https://norobots.net/free",)],
        ["url"])
    got = {r["url"] for r in filter_robots(urls, rules).collect()}
    assert got == {"https://ex.org/articles/1",
                   "https://ex.org/private/public-bit/x",
                   "https://open.org/anything",
                   "https://norobots.net/free"}


def test_sitemap_hreflang_precedence(spark, resources):
    """extractSitemapLanglinks (sitemaps.dart:141-158) over the
    reference's sitemap-hreflang.xml fixture: with a target language the
    matching hreflang alternates (incl. x-default) replace the <loc>s."""
    from pyspark.sql import functions as F
    from trafilatura_spark.sources.discovery import sitemap_links
    xml = (resources / "sitemap-hreflang.xml").read_text()
    df = spark.createDataFrame([(xml,)], ["xml"])
    de = {r["l"] for r in df.select(
        F.explode(sitemap_links(F.col("xml"), target_lang="de")).alias("l"))
        .collect()}
    assert "http://www.example.com/deutsch/page.html" in de
    assert "http://www.example.com/schweiz-deutsch/page.html" in de
    assert "http://www.example.com/english/page.html" not in de
    # no target lang -> plain <loc> extraction
    plain = {r["l"] for r in df.select(
        F.explode(sitemap_links(F.col("xml"))).alias("l")).collect()}
    assert "http://www.example.com/english/page.html" in plain


def test_url_lang_filter(spark):
    from pyspark.sql import functions as F
    from trafilatura_spark.sources.discovery import lang_filter
    rows = [("https://ex.org/article/1", True),      # no marker
            ("https://ex.org/de/artikel", True),     # matching marker
            ("https://ex.org/fr/article", False),    # other language
            ("https://ex.org/p?lang=fr", False),
            ("https://ex.org/p?lang=de", True)]
    df = spark.createDataFrame([(u,) for u, _ in rows], ["url"])
    got = [r["k"] for r in df.select(
        lang_filter(F.col("url"), "de").alias("k")).collect()]
    assert got == [w for _, w in rows]


def test_hreflang_attribute_order_and_quotes(spark):
    """hreflang may precede or follow href, with either quote style
    (the reference matches the whole tag then checks both attrs)."""
    from pyspark.sql import functions as F
    from trafilatura_spark.sources.discovery import sitemap_links
    xml = ("<?xml version='1.0'?><urlset><url>"
           "<loc>http://ex.org/en/</loc>"
           '<xhtml:link rel="alternate" href="http://ex.org/de/" '
           'hreflang="de"/>'
           "<xhtml:link rel='alternate' hreflang='de-at' "
           "href='http://ex.org/at/'/>"
           "</url></urlset>")
    df = spark.createDataFrame([(xml,)], ["xml"])
    got = {r["l"] for r in df.select(
        F.explode(sitemap_links(F.col("xml"), target_lang="de")).alias("l"))
        .collect()}
    assert got == {"http://ex.org/de/", "http://ex.org/at/"}


def test_url_lang_filter_case_insensitive(spark):
    from pyspark.sql import functions as F
    from trafilatura_spark.sources.discovery import lang_filter
    df = spark.createDataFrame([("https://ex.org/FR/page",),
                                ("https://ex.org/DE/page",)], ["url"])
    got = [r["k"] for r in df.select(
        lang_filter(F.col("url"), "de").alias("k")).collect()]
    assert got == [False, True]


def test_expand_sitemaps_domain_gate_and_cleanurl(spark):
    """handleLink parity: cross-domain links are dropped (unless
    external=True or a whitelisted platform), tracking params stripped."""
    from trafilatura_spark.sources.discovery import expand_sitemaps
    xml = ("<?xml version='1.0'?><urlset>"
           "<url><loc>https://ex.org/p?utm_source=tw&id=3</loc></url>"
           "<url><loc>https://ads.tracker.net/x</loc></url>"
           "<url><loc>https://sub.ex.org/q</loc></url>"
           "<url><loc>https://someone.wordpress.com/post</loc></url>"
           "</urlset>")
    fetched = spark.createDataFrame([("https://ex.org/sitemap.xml", xml)],
                                    ["url", "xml"])
    seeds = spark.createDataFrame([("https://ex.org/sitemap.xml",)], ["url"])
    got = {r["link"] for r in expand_sitemaps(fetched, seeds).collect()}
    assert "https://ads.tracker.net/x" not in got
    assert "https://sub.ex.org/q" in got
    assert "https://someone.wordpress.com/post" in got  # whitelisted
    assert any(u.startswith("https://ex.org/p") and "utm_source" not in u
               for u in got)
    ext = {r["link"] for r in
           expand_sitemaps(fetched, seeds, external=True).collect()}
    assert "https://ads.tracker.net/x" in ext


def test_navigation_priority_quota(spark):
    """spider.dart:405-426 processLinks/appendleft analog: with a per-host
    budget, navigation pages (pagination/category/tag/author/archive/date,
    spider.dart:276-284) are admitted before content pages."""
    from trafilatura_spark.sources.spider import (is_navigation_page,
                                                  per_domain_quota)
    urls = spark.createDataFrame(
        [(f"https://h.example.com/posts/{i}",) for i in range(10)]
        + [("https://h.example.com/category/news",),
           ("https://h.example.com/page/2",),
           ("https://h.example.com/2024/07/",),
           ("https://h.example.com/tag/sports",)],
        ["url"])
    kept = per_domain_quota(urls, quota=6, navigation_first=True)
    rows = {r.url for r in kept.collect()}
    assert "https://h.example.com/category/news" in rows
    assert "https://h.example.com/page/2" in rows
    assert "https://h.example.com/2024/07/" in rows
    assert "https://h.example.com/tag/sports" in rows
    assert len(rows) == 6  # 4 nav + first 2 content by url order
    flags = urls.select("url", is_navigation_page().alias("nav")).collect()
    assert sum(r.nav for r in flags) == 4


def test_hreflang_order_and_quote_agnostic(spark):
    """hreflang may precede OR follow href, quotes may be single or
    double, and x-default counts for any target language."""
    from trafilatura_spark.sources.discovery import extract_hreflang_urls
    xml = ('<urlset><url><loc>https://x.com/p</loc>'
           '<xhtml:link rel="alternate" href="https://x.com/de/p" hreflang="de"/>'
           "<xhtml:link rel='alternate' hreflang='fr' href='https://x.com/fr/p'/>"
           '<xhtml:link rel="alternate" hreflang="x-default" href="https://x.com/p"/>'
           '</url></urlset>')
    df = spark.createDataFrame([("s", xml)], ["source", "xml"])
    de = {r.url for r in extract_hreflang_urls(df, lang="de").collect()}
    assert de == {"https://x.com/de/p", "https://x.com/p"}  # de + x-default
    fr = {r.url for r in extract_hreflang_urls(df, lang="fr").collect()}
    assert "https://x.com/fr/p" in fr


def test_rss_cdata_and_atom_self_exclusion(spark):
    """CDATA-wrapped RSS <link> bodies unwrap; Atom rel="self" (the
    feed's own URL) is not an article link (feeds.dart:49,120)."""
    from trafilatura_spark.sources.discovery import extract_feed_urls
    rss = ('<rss><channel>'
           '<link><![CDATA[https://ex.com/a]]></link>'
           '<link>https://ex.com/b</link>'
           '</channel></rss>')
    atom = ('<feed><link rel="self" href="https://ex.com/feed.xml"/>'
            '<link rel="alternate" href="https://ex.com/post"/></feed>')
    df = spark.createDataFrame([("r", rss), ("a", atom)], ["source", "xml"])
    urls = {r.url for r in extract_feed_urls(df).collect()}
    assert "https://ex.com/a" in urls
    assert "https://ex.com/b" in urls
    assert "https://ex.com/post" in urls
    assert "https://ex.com/feed.xml" not in urls
    assert not any("CDATA" in u for u in urls)
