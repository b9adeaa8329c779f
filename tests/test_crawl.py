"""End-to-end crawl driver loop (sources/crawl.py): a fake transport
serves a 3-host fixture site; the loop must respect robots.txt, stay
on-site, resolve relative links, walk 2 hops, and feed extraction."""

import os

from pyspark.sql import functions as F

from trafilatura_spark.sources.crawl import (crawl_and_extract, crawl_site,
                                             fetch_robots_rules,
                                             resolve_links)

ARTICLE = ("This is a long enough synthetic article paragraph that easily "
           "clears the relaxed extraction thresholds used by the test and "
           "contains plenty of ordinary words for the classifier to like.")


def _page(body: str) -> bytes:
    return (f'<!DOCTYPE html><html lang="en"><head><title>t</title></head>'
            f"<body>{body}</body></html>").encode()


SITE = {
    # host a: nav page, article, a robots-blocked page, an off-site link,
    # relative + protocol-relative link forms
    "https://a.test/robots.txt": b"User-agent: *\nDisallow: /blocked/\n",
    "https://a.test/": _page(
        '<a href="/page/1">archive</a>'
        '<a href="/blocked/secret">secret</a>'
        '<a href="https://d.test/offsite">offsite</a>'
        '<a href="mailto:x@y">mail</a>'
        f'<div class="post-content"><p>{ARTICLE}</p></div>'),
    "https://a.test/page/1": _page(
        '<a href="article2.html">a2</a>'
        '<a href="//a.test/article3">a3</a>'
        f"<p>{ARTICLE}</p>"),
    "https://a.test/page/article2.html": _page(
        f'<div class="post-content"><p>{ARTICLE} article two body.</p></div>'),
    "https://a.test/article3": _page(
        f'<div class="post-content"><p>{ARTICLE} article three body.</p></div>'),
    "https://a.test/blocked/secret": _page("<p>should never be fetched</p>"),
    # host b: 2-deep chain — /b2 at hop 1, /b3 at hop 2
    "https://b.test/": _page(
        f'<a href="/b2">next</a><p>{ARTICLE}</p>'),
    "https://b.test/b2": _page(
        f'<a href="/b3">deeper</a><p>{ARTICLE} level two.</p>'),
    "https://b.test/b3": _page(
        f'<a href="/b4">deepest</a><p>{ARTICLE} level three.</p>'),
    "https://b.test/b4": _page("<p>beyond the hop limit</p>"),
    # host c: no robots.txt (404 -> default allow), self-contained
    "https://c.test/": _page(f"<article><p>{ARTICLE} from c.</p></article>"),
}


def _make_transport(site):
    # a nested closure is cloudpickled BY VALUE, so executors don't need
    # the test module on their import path
    def transport(method, url, headers, timeout, max_bytes=None):
        body = site.get(url)
        if body is None:
            return 404, {}, b"not found"
        return 200, {}, b"" if method == "HEAD" else body
    return transport


fake_transport = _make_transport(SITE)


SEEDS = ["https://a.test/", "https://b.test/", "https://c.test/"]


def test_fetch_robots_rules(spark):
    rules = fetch_robots_rules(spark, ["a.test", "c.test"],
                               transport=fake_transport).collect()
    assert {(r["host"], r["allow"], r["path"]) for r in rules} == \
        {("a.test", False, "/blocked/")}


def test_crawl_site_two_hops(spark):
    pages = crawl_site(spark, SEEDS, transport=fake_transport, max_hops=2)
    got = {r["url"]: r["hop"] for r in pages.collect()}
    # hop 0: the three homepages
    assert got["https://a.test/"] == 0
    assert got["https://b.test/"] == 0
    assert got["https://c.test/"] == 0
    # hop 1: on-site discovered links (relative forms resolved)
    assert got["https://a.test/page/1"] == 1
    assert got["https://b.test/b2"] == 1
    # hop 2: nav-page children and the b-chain
    assert got["https://a.test/page/article2.html"] == 2
    assert got["https://a.test/article3"] == 2
    assert got["https://b.test/b3"] == 2
    # robots: /blocked/ never fetched even though the transport serves it
    assert "https://a.test/blocked/secret" not in got
    # focused crawl: off-site link never fetched
    assert not any(u.startswith("https://d.test") for u in got)
    # hop limit: /b4 (3 hops deep) not fetched
    assert "https://b.test/b4" not in got
    # every fetched page carries decoded html
    assert pages.filter(F.col("html").isNull()).count() == 0


def test_crawl_respects_per_host_quota(spark):
    pages = crawl_site(spark, SEEDS, transport=fake_transport, max_hops=2,
                       per_host_quota=1)
    # quota 1 per hop per host -> at most max_hops+1 pages per host
    counts = (pages.groupBy(F.parse_url(F.col("url"), F.lit("HOST")))
              .count().collect())
    assert all(r["count"] <= 3 for r in counts)


def test_crawl_and_extract(spark):
    from trafilatura_spark.settings import Options
    ex = crawl_and_extract(
        spark, SEEDS, transport=fake_transport, max_hops=2,
        options=Options(fast=True, comments=False, with_metadata=False,
                        min_extracted_size=5, min_output_size=1))
    rows = {r["doc_id"]: r for r in ex.collect()}
    assert rows["https://a.test/page/article2.html"]["status"] == "ok"
    assert any("article two body" in s["text"]
               for s in rows["https://a.test/page/article2.html"]["spans"])
    assert rows["https://c.test/"]["status"] == "ok"
    # extraction drops the nav links from the article pages
    assert not any(s["text"] == "secret"
                   for s in rows["https://a.test/"]["spans"])


def test_crawl_breadth_many_hosts(spark):
    """Breadth sanity at 40 hosts / ~200 pages: the BFS stays exact under
    a wide frontier — per-host page sets are correct (robots respected on
    the even hosts, ../ and absolute forms dedupe to one fetch), and the
    frontier anti-join keeps every URL fetched exactly once."""
    site = {}
    hosts = [f"h{i}.test" for i in range(40)]
    for i, h in enumerate(hosts):
        if i % 2 == 0:
            site[f"https://{h}/robots.txt"] = \
                b"User-agent: *\nDisallow: /private/\n"
        # seed page links: a section index, the same index via ../, and a
        # robots-gated page
        site[f"https://{h}/"] = _page(
            f'<a href="/s/index.html">s</a>'
            f'<a href="/s/../s/index.html">dup</a>'
            f'<a href="/private/x">p</a>'
            f"<p>{ARTICLE}</p>")
        site[f"https://{h}/s/index.html"] = _page(
            f'<a href="leaf{i}.html">l</a><p>{ARTICLE} section {i}.</p>')
        site[f"https://{h}/s/leaf{i}.html"] = _page(
            f"<p>{ARTICLE} leaf {i}.</p>")
        site[f"https://{h}/private/x"] = _page("<p>gated</p>")
    transport = _make_transport(site)
    pages = crawl_site(spark, [f"https://{h}/" for h in hosts],
                       transport=transport, max_hops=2)
    rows = pages.collect()
    urls = [r["url"] for r in rows]
    # exactly once each: no duplicate fetches despite the ../ alias link
    assert len(urls) == len(set(urls))
    by_host = {}
    for u in urls:
        by_host.setdefault(u.split("/")[2], set()).add(u)
    for i, h in enumerate(hosts):
        expect = {f"https://{h}/", f"https://{h}/s/index.html",
                  f"https://{h}/s/leaf{i}.html"}
        if i % 2 == 1:          # no robots -> /private/x is crawlable
            expect.add(f"https://{h}/private/x")
        assert by_host[h] == expect, (h, by_host[h])


def test_crawl_and_extract_serialize(spark):
    """--serialize reaches the crawl path: every format renders in-stage,
    xml and json alike produce a populated `serialized` column
    (previously crawl mode silently ignored the flag)."""
    from trafilatura_spark.settings import Options
    opts = Options(fast=True, comments=False, with_metadata=False,
                   min_extracted_size=5, min_output_size=1)
    for fmt, marker in (("xml", "<doc"), ("json", '"text"')):
        ex = crawl_and_extract(spark, ["https://c.test/"],
                               transport=fake_transport, max_hops=0,
                               options=opts, serialize=fmt)
        row = ex.filter(F.col("status") == "ok").collect()[0]
        assert row["serialized"] and marker in row["serialized"], \
            (fmt, row["serialized"][:80])


def test_resolve_links_normalizes_dot_segments(spark):
    """RFC 3986 dot-segment removal: ../ and ./ links must resolve to
    the same frontier URL as their direct forms (else duplicate fetches
    at crawl scale); the scheme's // must never be eaten; a root-level
    ../ stays unresolved rather than corrupting the host."""
    from trafilatura_spark.sources.crawl import resolve_links
    html = ('<a href="../up.html">u</a>'
            '<a href="./same.html">s</a>'
            '<a href="a/b/../../deep.html">d</a>'
            '<a href="/x/y/../z.html">z</a>')
    pages = spark.createDataFrame(
        [("https://h.test/d1/d2/page.html", html),
         ("https://h.test/", '<a href="../root.html">r</a>')],
        "url string, html string")
    got = {r["url"] for r in resolve_links(pages).collect()}
    assert got == {
        "https://h.test/d1/up.html",
        "https://h.test/d1/d2/same.html",
        "https://h.test/d1/d2/deep.html",
        "https://h.test/x/z.html",
        # parent-of-root: conservatively left as-is (host survives)
        "https://h.test/../root.html",
    }, got


def test_resolve_links_rootless_page_and_fragments(spark):
    """Two regression cases: (a) a path-less page URL is its own
    directory — bare-relative links on 'https://h.test' must resolve
    under the host, not corrupt into 'https://news.html'; (b) a
    path+fragment href keeps the path with the fragment stripped, while
    pure-fragment links are dropped."""
    from trafilatura_spark.sources.crawl import resolve_links
    pages = spark.createDataFrame(
        [("https://h.test",
          '<a href="news.html">n</a><a href="/about#team">a</a>'
          '<a href="#top">t</a>')],
        "url string, html string")
    got = {r["url"] for r in resolve_links(pages).collect()}
    assert got == {
        "https://h.test/news.html",
        "https://h.test/about",
    }, got


def test_resolve_links_plan_is_jvm_side(spark):
    """Link lifting + resolution is pure relational work: no Python
    evaluation (BatchEvalPython / MapInPandas) may appear in the plan —
    at crawl scale the href scan must stay inside codegen."""
    from trafilatura_spark.sources.crawl import resolve_links
    pages = spark.createDataFrame(
        [("https://a.test/x/", '<a href="/p">l</a>')], "url string, html string")
    plan = (resolve_links(pages)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan, plan
    assert "MapInPandas" not in plan, plan


def test_job_cli_crawl_mode(spark, tmp_path):
    """CLI e2e: --mode crawl drives the full seeds->robots->fetch->
    extract->write path through job.main via the transport seam, the
    downloadQueueProcessing analog of cli_utils.dart:379-406."""
    from trafilatura_spark.job import main as job_main
    out = str(tmp_path / "crawl_out")
    rc = job_main(["--mode", "crawl", "--seeds", ",".join(SEEDS),
                   "--output", out, "--max-hops", "2",
                   "--serialize", "txt"],
                  transport=fake_transport)
    assert rc == 0
    got = spark.read.parquet(out)
    rows = {r["doc_id"]: r for r in got.collect()}
    # robots-blocked and beyond-hop-limit pages never reach the sink
    assert "https://a.test/blocked/secret" not in rows
    assert "https://b.test/b4" not in rows
    ok = {u for u, r in rows.items() if r["status"] == "ok"}
    assert "https://a.test/page/article2.html" in ok
    assert "https://c.test/" in ok
    # --serialize txt adds the rendered column alongside the span sink
    a2 = rows["https://a.test/page/article2.html"]
    assert "article two body" in a2["serialized"]


def test_job_cli_url_gates(spark, tmp_path):
    """--url-filter and --blacklist mirror loadInputDict's URL gates
    (cli_utils.dart:153-170): the frontier keeps only URLs containing a
    filter substring, minus exact blacklist matches — gated URLs are
    never fetched, not just dropped from the sink."""
    from trafilatura_spark.job import main as job_main

    # fetches happen in python-worker subprocesses, so an in-memory set
    # would stay empty in the test process (the closure ships by value);
    # append to a file instead — same-machine local mode makes that safe
    log_path = str(tmp_path / "fetch.log")

    def counting_transport(method, url, headers, timeout, max_bytes=None):
        if method != "HEAD":
            with open(log_path, "a", encoding="utf-8") as fh:
                fh.write(url + "\n")
        return fake_transport(method, url, headers, timeout, max_bytes)

    bl = tmp_path / "bl.txt"
    bl.write_text("# comment line\n\nhttps://a.test/article3\n")
    out = str(tmp_path / "gated_out")
    rc = job_main(["--mode", "crawl", "--seeds", ",".join(SEEDS),
                   "--output", out, "--max-hops", "2",
                   "--url-filter", "a.test",
                   "--blacklist", str(bl)],
                  transport=counting_transport)
    assert rc == 0
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # filter: only a.test URLs survive; blacklist: article3 is out too
    assert "https://a.test/page/article2.html" in got
    assert not any("b.test" in u or "c.test" in u for u in got)
    assert "https://a.test/article3" not in got
    with open(log_path, encoding="utf-8") as fh:
        fetched = [ln.strip() for ln in fh if ln.strip()]
    page_fetches = {u for u in fetched if not u.endswith("robots.txt")}
    assert page_fetches, "fetch log must capture worker-side fetches"
    assert all("a.test" in u for u in page_fetches), page_fetches
    assert "https://a.test/article3" not in page_fetches


def test_job_cli_no_tables(spark, tmp_path):
    """--no-tables drops table spans end-to-end (htmlprocessing.dart:45-48
    adds the table tags to the cleaning list when tables are off)."""
    from trafilatura_spark.job import main as job_main

    table_site = {
        "https://t.test/robots.txt": b"User-agent: *\nAllow: /\n",
        "https://t.test/": _page(
            f"<p>{ARTICLE} {ARTICLE}</p>"
            "<table><tr><td>cell one</td><td>cell two</td></tr></table>"),
    }
    transport = _make_transport(table_site)
    for flag, want_table in (([], True), (["--no-tables"], False)):
        out = str(tmp_path / f"t{want_table}")
        rc = job_main(["--mode", "crawl", "--seeds", "https://t.test/",
                       "--output", out, "--max-hops", "0"] + flag,
                      transport=transport)
        assert rc == 0
        spans = (spark.read.parquet(out)
                 .select(F.explode("spans").alias("s"))
                 .select("s.kind").collect())
        kinds = {r["kind"] for r in spans}
        assert "p" in kinds, (flag, kinds)
        assert ("cell" in kinds) == want_table, (flag, kinds)


def test_job_cli_probe_mode(spark, tmp_path):
    """--mode probe (probeHomepage, cli_utils.dart:455-470): fetch each
    URL, keep those whose html2txt text is non-empty, clears the
    min-extracted-size gate and contains a letter."""
    from trafilatura_spark.job import main as job_main

    probe_site = {
        "https://p.test/good": _page(f"<p>{ARTICLE} {ARTICLE}</p>"),
        "https://p.test/short": _page("<p>tiny</p>"),
        "https://p.test/numeric": _page(f"<p>{'123 456 ' * 60}</p>"),
        # /gone is absent -> 404
    }
    transport = _make_transport(probe_site)
    seeds = ("https://p.test/good,https://p.test/short,"
             "https://p.test/numeric,https://p.test/gone")
    out = str(tmp_path / "probe_out")
    rc = job_main(["--mode", "probe", "--seeds", seeds, "--output", out],
                  transport=transport)
    assert rc == 0
    got = {r["url"] for r in spark.read.parquet(out).collect()}
    assert got == {"https://p.test/good"}, got
    # --min-extracted-size overrides the gate
    out2 = str(tmp_path / "probe_out2")
    rc = job_main(["--mode", "probe", "--seeds", seeds, "--output", out2,
                   "--min-extracted-size", "3"],
                  transport=transport)
    assert rc == 0
    got2 = {r["url"] for r in spark.read.parquet(out2).collect()}
    assert got2 == {"https://p.test/good", "https://p.test/short"}, got2


def test_job_cli_explore_mode(spark, tmp_path):
    """--mode explore (cliDiscovery --explore path, cli.dart:344): live
    sitemap discovery — robots.txt Sitemap: directive on host s, the
    /sitemap.xml guess on host g, a 2-level sitemap index recursion —
    then fetch + extract every discovered page."""
    from trafilatura_spark.job import main as job_main

    def sm(body: str) -> bytes:
        return f'<?xml version="1.0"?>{body}'.encode()

    explore_site = {
        # liveness HEAD gate (sitemaps.dart:234-236) probes the bases
        "https://s.test/": _page("<p>home s</p>"),
        "https://g.test/": _page("<p>home g</p>"),
        "https://d.test/": _page("<p>home d</p>"),
        # host s: robots points at a sitemap INDEX of two child sitemaps
        "https://s.test/robots.txt":
            b"User-agent: *\nSitemap: https://s.test/si.xml\n",
        "https://s.test/si.xml": sm(
            "<sitemapindex>"
            "<sitemap><loc>https://s.test/sm1.xml</loc></sitemap>"
            "<sitemap><loc>https://s.test/sm2.xml</loc></sitemap>"
            "</sitemapindex>"),
        "https://s.test/sm1.xml": sm(
            "<urlset><url><loc>https://s.test/a1</loc></url></urlset>"),
        "https://s.test/sm2.xml": sm(
            "<urlset><url><loc>https://s.test/a2</loc></url>"
            "<url><loc>https://other.test/offsite</loc></url></urlset>"),
        "https://s.test/a1": _page(f"<p>{ARTICLE} page a1.</p>"),
        "https://s.test/a2": _page(f"<p>{ARTICLE} page a2.</p>"),
        # host g: no robots Sitemap -> /sitemap.xml guess
        "https://g.test/sitemap.xml": sm(
            "<urlset><url><loc>https://g.test/p1</loc></url></urlset>"),
        "https://g.test/p1": _page(f"<p>{ARTICLE} page g1.</p>"),
        # host d: the SEED is the sitemap (sitemaps.dart:241-243 — used
        # directly, robots/guesses skipped; its robots has NO directive)
        "https://d.test/smap.xml": sm(
            "<urlset><url><loc>https://d.test/p2</loc></url></urlset>"),
        "https://d.test/p2": _page(f"<p>{ARTICLE} page d2.</p>"),
    }
    inner = _make_transport(explore_site)
    # file-based log: fetches run in python-worker subprocesses
    log_path = str(tmp_path / "explore_fetch.log")

    def transport(method, url, headers, timeout, max_bytes=None):
        if method != "HEAD":
            with open(log_path, "a", encoding="utf-8") as fh:
                fh.write(url + "\n")
        return inner(method, url, headers, timeout, max_bytes)

    out = str(tmp_path / "explore_out")
    rc = job_main(["--mode", "explore",
                   "--seeds",
                   "https://s.test/,https://g.test/,https://d.test/smap.xml,"
                   "https://dead.test/",
                   "--output", out,
                   "--min-extracted-size", "5", "--min-output-size", "1"],
                  transport=transport)
    assert rc == 0
    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    ok = {u for u, r in rows.items() if r["status"] == "ok"}
    assert ok == {"https://s.test/a1", "https://s.test/a2",
                  "https://g.test/p1", "https://d.test/p2"}, ok
    # the off-site <loc> never reaches the fetch stage
    assert "https://other.test/offsite" not in rows
    assert any("page a2" in s["text"] for s in rows["https://s.test/a2"]["spans"])
    # exactly-once HTTP: localCheckpoint cuts lineage before reuse, so
    # neither sitemaps nor pages are fetched twice (the driver-side
    # robots probe is per host, also once)
    with open(log_path, encoding="utf-8") as fh:
        fetched = [ln.strip() for ln in fh if ln.strip()]
    assert fetched, "fetch log must capture worker-side fetches"
    dupes = {u for u in fetched if fetched.count(u) > 1}
    assert not dupes, dupes
    assert "https://other.test/offsite" not in fetched


def test_job_cli_backup_dir(spark, tmp_path):
    """--backup-dir (reference --backup-dir): the raw fetched HTML is kept
    as parquet alongside the extraction output, without re-fetching."""
    from trafilatura_spark.job import main as job_main

    out = str(tmp_path / "bk_out")
    backup = str(tmp_path / "bk_raw")
    rc = job_main(["--mode", "crawl", "--seeds", "https://c.test/",
                   "--output", out, "--max-hops", "0",
                   "--backup-dir", backup],
                  transport=fake_transport)
    assert rc == 0
    raw = {r["url"]: r for r in spark.read.parquet(backup).collect()}
    assert set(raw) == {"https://c.test/"}
    assert "from c." in raw["https://c.test/"]["html"]
    assert {"url", "hop", "status", "html"} <= set(raw["https://c.test/"].asDict())


def test_job_cli_feed_mode(spark, tmp_path):
    """--mode feed (findFeedUrls, feeds.dart:368-431): a direct-feed seed
    yields its links immediately; a homepage seed routes through
    determineFeed -> feed fetch -> extractLinks; a linkless seed falls
    back to the Google-News RSS probe (via the same transport).  All
    discovered articles are then fetched and extracted."""
    from trafilatura_spark.job import main as job_main

    def rss(*links: str) -> bytes:
        items = "".join(f"<item><link>{u}</link></item>" for u in links)
        return (f'<?xml version="1.0"?><rss><channel>{items}'
                "</channel></rss>").encode()

    feed_site = {
        # host f: the seed IS a feed (direct extractLinks branch)
        "https://f.test/feed.xml": rss("https://f.test/art1"),
        "https://f.test/art1": _page(f"<p>{ARTICLE} feed article one.</p>"),
        # host h: homepage with a rel=alternate feed link
        "https://h.test/": _page(
            '<link rel="alternate" type="application/rss+xml" '
            'href="/rss.xml">'),
        "https://h.test/rss.xml": rss("https://h.test/art2"),
        "https://h.test/art2": _page(f"<p>{ARTICLE} feed article two.</p>"),
        # host n: nothing on-site -> gnews probe
        "https://news.google.com/rss/search?q=site:n.test&hl=en&scoring=n"
        "&num=100": rss("https://n.test/art3"),
        "https://n.test/": _page("<p>no feeds here</p>"),
        "https://n.test/art3": _page(f"<p>{ARTICLE} gnews article.</p>"),
        # host t: the deep seed 404s -> tryHomepage retries the base URL
        # (feeds.dart:425-438), which is a direct feed
        "https://t.test/": rss("https://t.test/art4"),
        "https://t.test/art4": _page(f"<p>{ARTICLE} retried article.</p>"),
    }
    inner = _make_transport(feed_site)
    log_path = str(tmp_path / "feed_fetch.log")

    def transport(method, url, headers, timeout, max_bytes=None):
        if method != "HEAD":
            with open(log_path, "a", encoding="utf-8") as fh:
                fh.write(url + "\n")
        return inner(method, url, headers, timeout, max_bytes)

    out = str(tmp_path / "feed_out")
    rc = job_main(["--mode", "feed",
                   "--seeds",
                   "https://f.test/feed.xml,https://h.test/,https://n.test/,"
                   "https://t.test/dead/feed",
                   "--output", out, "--target-lang", "en",
                   "--min-extracted-size", "5", "--min-output-size", "1"],
                  transport=transport)
    assert rc == 0
    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    ok = {u for u, r in rows.items() if r["status"] == "ok"}
    assert ok == {"https://f.test/art1", "https://h.test/art2",
                  "https://n.test/art3", "https://t.test/art4"}, ok
    assert any("feed article two" in s["text"]
               for s in rows["https://h.test/art2"]["spans"])
    # exactly-once HTTP: no URL (seed, feed, or article) fetched twice
    with open(log_path, encoding="utf-8") as fh:
        fetched = [ln.strip() for ln in fh if ln.strip()]
    assert fetched, "fetch log must capture worker-side fetches"
    dupes = {u for u in fetched if fetched.count(u) > 1}
    assert not dupes, dupes


def test_job_cli_list_mode(spark, tmp_path):
    """--list (cli_utils.dart:412-414): explore writes the discovered URL
    list WITHOUT fetching any page; crawl writes the frontier URLs
    without extraction."""
    from trafilatura_spark.job import main as job_main

    def sm(body: str) -> bytes:
        return f'<?xml version="1.0"?>{body}'.encode()

    site = {
        "https://l.test/": _page("<p>home</p>"),
        "https://l.test/robots.txt":
            b"User-agent: *\nSitemap: https://l.test/s.xml\n",
        "https://l.test/s.xml": sm(
            "<urlset><url><loc>https://l.test/a1</loc></url>"
            "<url><loc>https://l.test/a2</loc></url></urlset>"),
        "https://l.test/a1": _page(f"<p>{ARTICLE}</p>"),
    }
    log_path = str(tmp_path / "list_fetch.log")
    inner = _make_transport(site)

    def transport(method, url, headers, timeout, max_bytes=None):
        if method != "HEAD":
            with open(log_path, "a", encoding="utf-8") as fh:
                fh.write(url + "\n")
        return inner(method, url, headers, timeout, max_bytes)

    out = str(tmp_path / "list_out")
    rc = job_main(["--mode", "explore", "--seeds", "https://l.test/",
                   "--output", out, "--list"], transport=transport)
    assert rc == 0
    urls = {r["url"] for r in spark.read.parquet(out).collect()}
    assert urls == {"https://l.test/a1", "https://l.test/a2"}, urls
    # --list must not fetch any PAGE — only robots + the sitemap
    with open(log_path, encoding="utf-8") as fh:
        fetched = {ln.strip() for ln in fh if ln.strip()}
    assert fetched == {"https://l.test/robots.txt", "https://l.test/s.xml"}, \
        fetched

    out2 = str(tmp_path / "list_crawl")
    rc = job_main(["--mode", "crawl", "--seeds", "https://c.test/",
                   "--output", out2, "--max-hops", "0", "--list"],
                  transport=fake_transport)
    assert rc == 0
    got = spark.read.parquet(out2).collect()
    assert {r["url"] for r in got} == {"https://c.test/"}
    assert set(got[0].asDict()) == {"url", "hop", "status"}


def test_job_cli_seeds_file(spark, tmp_path):
    """--seeds-file (the reference's --input-file URL list): one URL per
    line, '#' comments, merged with --seeds, deduplicated."""
    from trafilatura_spark.job import main as job_main

    sf = tmp_path / "seeds.txt"
    sf.write_text("# comment\n\nhttps://c.test/\nhttps://b.test/\n"
                  "https://c.test/\n")
    out = str(tmp_path / "sf_out")
    rc = job_main(["--mode", "crawl", "--seeds", "https://c.test/",
                   "--seeds-file", str(sf), "--output", out,
                   "--max-hops", "0", "--list"],
                  transport=fake_transport)
    assert rc == 0
    urls = {r["url"] for r in spark.read.parquet(out).collect()}
    assert urls == {"https://c.test/", "https://b.test/"}, urls


def test_job_cli_sleep_time(spark, tmp_path):
    """--sleep-time: consecutive same-host fetches inside one task are
    spaced by at least the configured interval (per-domain politeness,
    cli_utils.dart:401)."""
    import json as _json

    from trafilatura_spark.job import main as job_main

    log_path = str(tmp_path / "times.log")
    inner = _make_transport(SITE)

    def transport(method, url, headers, timeout, max_bytes=None):
        if method != "HEAD":
            import time as _t
            with open(log_path, "a", encoding="utf-8") as fh:
                fh.write(_json.dumps([url, _t.monotonic()]) + "\n")
        return inner(method, url, headers, timeout, max_bytes)

    out = str(tmp_path / "st_out")
    rc = job_main(["--mode", "crawl", "--seeds", "https://a.test/",
                   "--output", out, "--max-hops", "2", "--list",
                   "--sleep-time", "0.4"],
                  transport=transport)
    assert rc == 0
    with open(log_path, encoding="utf-8") as fh:
        events = [_json.loads(ln) for ln in fh if ln.strip()]
    # hop 2 fetches TWO a.test pages in one round — the limiter must
    # space them inside the single per-host task (hop boundaries would
    # mask the gap for cross-hop pairs)
    hop2 = sorted(t for u, t in events
                  if u in ("https://a.test/page/article2.html",
                           "https://a.test/article3"))
    assert len(hop2) == 2, events
    assert hop2[1] - hop2[0] >= 0.35, hop2


def test_polite_send_spaces_same_host():
    """Driver-side retry/probe loops honor config SLEEP_TIME per host
    (the reference sleeps before its homepage retry, feeds.dart:425-427):
    two consecutive requests to one host are spaced; a different host is
    not delayed."""
    import time

    from trafilatura_spark.sources.crawl import _polite_send

    calls = []

    def transport(method, url, headers, timeout, max_bytes=None):
        calls.append((url, time.monotonic()))
        return 200, {}, b"ok"

    last: dict = {}
    cfg = {"SLEEP_TIME": 0.3}
    _polite_send("https://s.test/a", transport, cfg, last)
    _polite_send("https://other.test/x", transport, cfg, last)
    _polite_send("https://s.test/b", transport, cfg, last)
    t = {u: ts for u, ts in calls}
    assert t["https://other.test/x"] - t["https://s.test/a"] < 0.25
    assert t["https://s.test/b"] - t["https://s.test/a"] >= 0.25


def test_feed_driver_loop_cap(spark, tmp_path):
    """A crawl-scale seeds file must not serialize fetches on the driver:
    with 10k failing deep seeds, the distributed first round fetches all
    of them, but the driver-side tryHomepage retry loop is truncated at
    _DRIVER_LOOP_CAP with a warning (sources/crawl.py) — the wave stages
    stay parallel regardless of seed count."""
    import pytest as _pytest

    from trafilatura_spark.sources.crawl import (_DRIVER_LOOP_CAP,
                                                 live_feed_pages)

    driver_pid = os.getpid()
    log = str(tmp_path / "driver_fetch.log")

    def transport(method, url, headers, timeout, max_bytes=None):
        # only driver-process calls land in the log: executor-side calls
        # run in forked python workers whose appends don't come back
        if os.getpid() == driver_pid:
            with open(log, "a", encoding="utf-8") as fh:
                fh.write(url + "\n")
        return 404, {}, b"gone"

    seeds = [f"https://h{i}.test/deep/page" for i in range(10_000)]
    with _pytest.warns(UserWarning, match="truncated"):
        pages = live_feed_pages(spark, seeds, transport=transport,
                                partitions=64)
        assert pages.count() == 0
    with open(log, encoding="utf-8") as fh:
        driver_urls = [ln.strip() for ln in fh if ln.strip()]
    # every driver-side request is a homepage retry; the cap bounds them
    assert 0 < len(driver_urls) <= _DRIVER_LOOP_CAP
    assert all(u.endswith(".test/") for u in driver_urls)


def test_job_cli_backup_format_warc(spark, tmp_path):
    """--backup-format warc: the crawl backup becomes a Common
    Crawl-layout archive, standalone re-extractable via read_warc /
    --input-format warc (round trip over the fetched page)."""
    from trafilatura_spark.job import main as job_main
    from trafilatura_spark.sources.warc import read_warc

    out = str(tmp_path / "bkw_out")
    backup = str(tmp_path / "bkw_raw")
    rc = job_main(["--mode", "crawl", "--seeds", "https://c.test/",
                   "--output", out, "--max-hops", "0",
                   "--backup-dir", backup, "--backup-format", "warc"],
                  transport=fake_transport)
    assert rc == 0
    docs = read_warc(spark, backup)
    rows = {r["doc_id"]: r["spans"][0]["text"] for r in docs.collect()}
    assert set(rows) == {"https://c.test/"}
    assert "from c." in rows["https://c.test/"]


def test_resolve_links_preserves_port(spark):
    """Absolute-path hrefs on a ported seed must keep the port (parse_url
    HOST strips it, silently moving the crawl to port 80)."""
    pages = spark.createDataFrame(
        [("http://h.test:8080/dir/page",
          '<a href="/abs">a</a><a href="rel">r</a>'
          '<a href="http://h.test:8080/direct">d</a>'
          '<a href="http://h.test/other-port">o</a>')],
        "url string, html string")
    got = sorted(r["url"] for r in resolve_links(pages).collect())
    assert got == ["http://h.test:8080/abs",
                   "http://h.test:8080/dir/rel",
                   "http://h.test:8080/direct"]
    # h.test (port 80) is a DIFFERENT authority -> off-site, dropped


def test_robots_scheme_and_port_keying(spark):
    """Robots are fetched with the seed's own scheme (an http-only site's
    rules were unreachable over hardcoded https) and keyed by authority
    so ported frontier URLs match their rules."""
    from trafilatura_spark.sources.crawl import fetch_robots_rules
    from trafilatura_spark.sources.spider import filter_robots

    site = {"http://p.test:8080/robots.txt":
            b"User-agent: *\nDisallow: /Admin/\n"}
    transport = _make_transport(site)
    rules = fetch_robots_rules(spark, ["http://p.test:8080"],
                               transport=transport)
    rows = rules.collect()
    assert rows and all(r["host"] == "p.test:8080" for r in rows)
    # mixed-case rule path matches the original-case URL (the reference
    # lowercases whole lines -- a fail-open hole this port fixes)
    urls = spark.createDataFrame(
        [("http://p.test:8080/Admin/secret",),
         ("http://p.test:8080/public",)], "url string")
    kept = sorted(r["url"] for r in filter_robots(urls, rules).collect())
    assert kept == ["http://p.test:8080/public"]


def test_crawl_frontier_skips_noncrawlable(spark):
    """isValidLink's crawlability gate (spider.dart:257-270): login/cart
    and binary-download links never enter the frontier."""
    article = "word " * 60
    site = {
        "https://n.test/robots.txt": b"User-agent: *\n",
        "https://n.test/": _page(
            '<a href="/login">l</a><a href="/cart">c</a>'
            '<a href="/files/report.zip">z</a><a href="/doc.pdf">p</a>'
            f'<a href="/article">ok</a><p>{article}</p>'),
        "https://n.test/article": _page(f"<p>{article} body.</p>"),
        "https://n.test/login": _page("<p>never</p>"),
        "https://n.test/files/report.zip": b"PK\x03\x04binary",
    }
    pages = crawl_site(spark, ["https://n.test/"],
                       transport=_make_transport(site), max_hops=1)
    got = {r["url"] for r in pages.collect()}
    assert got == {"https://n.test/", "https://n.test/article"}


def test_quota_cut_urls_stay_eligible(spark):
    """A frontier URL cut by per-host quota is NOT retired: when a later
    hop has free budget it gets fetched (the reference's UrlStore keeps
    unfetched todo URLs; recording the pre-quota frontier lost them)."""
    article = "word " * 60
    # hop1 discovers /a.. /c (3 links, quota 2 keeps /a /b); /a links
    # back to /c at hop 2, where there is budget again
    site = {
        "https://q.test/robots.txt": b"User-agent: *\n",
        "https://q.test/": _page(
            '<a href="/a">a</a><a href="/b">b</a><a href="/c">c</a>'
            f"<p>{article}</p>"),
        "https://q.test/a": _page(f'<a href="/c">c</a><p>{article} a.</p>'),
        "https://q.test/b": _page(f"<p>{article} b.</p>"),
        "https://q.test/c": _page(f"<p>{article} c.</p>"),
    }
    pages = crawl_site(spark, ["https://q.test/"],
                       transport=_make_transport(site), max_hops=2,
                       per_host_quota=2)
    got = {r["url"]: r["hop"] for r in pages.collect()}
    assert got["https://q.test/c"] == 2  # cut at hop 1, fetched at hop 2


def test_sitemap_cross_host_and_relative_links(spark):
    """expand_sitemaps gates links against the SEED domain (a CDN-hosted
    sitemap still yields the site's pages) and resolves relative
    hreflang/loc hrefs before the gate (unresolved ones have NULL host
    and were all dropped)."""
    from trafilatura_spark.sources.discovery import expand_sitemaps

    cdn_xml = ("<urlset><url><loc>https://s.test/article1</loc>"
               '<xhtml:link rel="alternate" hreflang="de" '
               'href="/de/page1"/></url>'
               "<url><loc>https://s.test/article2</loc>"
               '<xhtml:link rel="alternate" hreflang="fr" '
               'href="/fr/page1"/></url></urlset>')
    fetched = spark.createDataFrame(
        [("https://cdn.assets.test/sitemap.xml", cdn_xml)],
        "url string, xml string")
    # a robots.txt-declared CDN sitemap enters with the SITE's domain
    # (sitemaps.dart:111-119: the SitemapObject keeps the seed's
    # domain) — the caller passes it via the seed_host column
    seeds = spark.createDataFrame(
        [("https://cdn.assets.test/sitemap.xml", "s.test")],
        "url string, seed_host string")
    got = sorted(r["link"] for r in expand_sitemaps(
        fetched, seeds).collect())
    assert got == ["https://s.test/article1", "https://s.test/article2"]
    # with target_lang de: hreflang de alternates take precedence; the
    # RELATIVE href resolves against the sitemap URL (cdn host), so the
    # seed-domain gate drops it — and crucially nothing crashes on the
    # NULL-host unresolved form the old code produced
    got_de = sorted(r["link"] for r in expand_sitemaps(
        fetched, seeds, target_lang="de").collect())
    assert got_de == []
    # external=True skips the gate: the resolved relative link survives
    got_ext = sorted(r["link"] for r in expand_sitemaps(
        fetched, seeds, target_lang="de", external=True).collect())
    assert got_ext == ["https://cdn.assets.test/de/page1"]
