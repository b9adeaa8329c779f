"""Batch crawl-frontier expansion (spider.dart analog).

The reference's focused crawler (spider.dart:529-571) is a sequential
BFS loop over per-domain queues.  The batch re-expression: the link
graph lives in a table ``edges(src, dst)`` (produced by extraction with
``links=True`` — every ``ref`` span is an edge); frontier expansion is
iterative DataFrame algebra:

    frontier_{k+1} = distinct(dst of edges joined on frontier_k) ANTI-JOIN visited

Each hop is one shuffle join; ``visited`` stays a DataFrame (checkpointed
every few hops to cut lineage).  At web scale this is the standard
map-reduce BFS; robots/language gates become row filters on the edge
table before expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bfs_frontier(edges: DataFrame, seeds: DataFrame, max_hops: int = 3,
                 checkpoint_every: int = 2) -> DataFrame:
    """Iterative BFS: returns (url, hop) for every reached node.

    ``seeds``: one column ``url``.  ``edges``: (src, dst).  Lineage is cut
    with localCheckpoint every ``checkpoint_every`` hops so deep crawls
    don't build unbounded plans.
    """
    visited = seeds.select("url", F.lit(0).alias("hop"))
    frontier = visited.select("url")
    for hop in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("url", "src"), "src")
            .select(F.col("dst").alias("url")).distinct()
            .join(visited.select("url"), "url", "left_anti")
        )
        # materialize once: isEmpty, the visited union AND the next
        # hop's join would otherwise each re-run the expansion join
        nxt = nxt.withColumn("hop", F.lit(hop)).localCheckpoint()
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("url")
        if hop % checkpoint_every == 0:
            visited = visited.localCheckpoint()
    return visited


def url_authority(url_col: str = "url"):
    """Authority INCLUDING the port: ``parse_url(..., 'HOST')`` strips
    it, which would key example.com:8080 and example.com to the same
    robots-rules/quota row (and let the :8080 site's frontier escape
    its own rules entirely)."""
    return F.regexp_extract(F.col(url_col),
                            r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)


def is_not_crawlable(url_col: str = "url"):
    """Non-content URL predicate (spider.dart:257-270 _isNotCrawlable):
    login/account/cart churn and binary downloads never enter the
    frontier — a .zip link would otherwise pull up to max-file-size of
    binary into the HTML pipeline per URL.  Pure column expression."""
    lower = F.lower(F.col(url_col))
    return (lower.contains("/login") | lower.contains("/logout")
            | lower.contains("/register") | lower.contains("/signup")
            | lower.contains("/signin") | lower.contains("/cart")
            | lower.contains("/checkout") | lower.contains("/search?")
            | lower.endswith(".pdf") | lower.endswith(".zip")
            | lower.endswith(".exe") | lower.endswith(".dmg"))


def is_navigation_page(url_col: str = "url"):
    """Navigation-page predicate (spider.dart:276-284 _isNavigationPage):
    pagination / category / tag / author / archive paths and
    /YYYY/MM[/] date-archive endings.  Pure column expression."""
    lower = F.lower(F.col(url_col))
    return (lower.contains("/page/") | lower.contains("/category/")
            | lower.contains("/tag/") | lower.contains("/author/")
            | lower.contains("/archive")
            | F.col(url_col).rlike(r"/\d{4}/\d{2}/?$"))


def per_domain_quota(urls: DataFrame, url_col: str = "url",
                     quota: int = 10,
                     navigation_first: bool = False) -> DataFrame:
    """Politeness quota: keep at most ``quota`` URLs per host (the batch
    analog of the reference's per-domain round-robin,
    cli_utils.dart:379-406).

    ``navigation_first=True`` is the batch analog of the reference's
    priority frontier (spider.dart:405-426 processLinks → addUrls
    appendleft): navigation pages fill the per-host budget before
    content pages — they yield the most new links per fetch, so a
    budget-bounded wave discovers the site graph fastest."""
    from pyspark.sql import Window
    host = url_authority(url_col)
    if navigation_first:
        order = [is_navigation_page(url_col).cast("int").desc(),
                 F.col(url_col)]
    else:
        order = [F.col(url_col)]
    w = Window.partitionBy(host).orderBy(*order)
    return (urls.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= quota).drop("_rn"))


# -- robots.txt compliance (spider.dart:106-177 RobotRules) -------------------

def parse_robots(content: str | None) -> dict:
    """RobotRules.parse (spider.dart:116-151): comment-stripped lines;
    blocks gated on ``user-agent: *`` or agents containing 'bot';
    collects allow/disallow paths and crawl-delay.

    Only the KEY (and the user-agent value comparison) is lowercased —
    the reference lowercases whole lines, which silently ignores
    mixed-case rules ('Disallow: /Admin/' stored as '/admin/' never
    prefix-matches the original-case URL path, a fail-open compliance
    hole this port deliberately fixes)."""
    rules = {"allow": [], "disallow": [], "crawl_delay": None}
    if not content:
        return rules
    relevant = False
    for line in content.split("\n"):
        comment = line.find("#")
        if comment >= 0:
            line = line[:comment]
        line = line.strip()
        if not line:
            continue
        key, sep, value = line.partition(":")
        if not sep:
            continue
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            low = value.lower()
            relevant = low == "*" or "bot" in low
        elif relevant:
            if key == "disallow" and value:
                rules["disallow"].append(value)
            elif key == "allow" and value:
                rules["allow"].append(value)
            elif key == "crawl-delay":
                try:
                    rules["crawl_delay"] = float(value)
                except ValueError:
                    pass
    return rules


def can_fetch(rules: dict, url: str) -> bool:
    """RobotRules.canFetch (spider.dart:153-176): explicit allows win,
    then disallow prefixes, default allow."""
    from urllib.parse import urlparse
    try:
        path = urlparse(url).path
    except ValueError:
        return False
    for allowed in rules["allow"]:
        if path.startswith(allowed):
            return True
    for disallowed in rules["disallow"]:
        if path.startswith(disallowed):
            return False
    return True


def robots_rules_df(robots: DataFrame, host_col: str = "host",
                    txt_col: str = "robotstxt") -> DataFrame:
    """(host, allow, path) rule rows from a per-host robots.txt table —
    Arrow-batched parse, so a million-host robots store stays
    distributed."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for host, txt in zip(pdf[host_col], pdf[txt_col]):
                parsed = parse_robots(txt)
                for p in parsed["allow"]:
                    rows.append((host, True, p))
                for p in parsed["disallow"]:
                    rows.append((host, False, p))
            yield pd.DataFrame(rows, columns=["host", "allow", "path"])

    return robots.mapInPandas(gen, "host string, allow boolean, path string")


def filter_robots(urls: DataFrame, rules: DataFrame,
                  url_col: str = "url") -> DataFrame:
    """Robots row-filter for the frontier: keep URLs whose path hits an
    allow prefix, or no disallow prefix, of their host's rules
    (canFetch semantics relationally: allows win, default allow —
    including hosts with no robots entry at all).

    ``rules`` is the output of :func:`robots_rules_df`; its host column
    must carry the AUTHORITY (host:port when present — what
    :func:`url_authority` extracts and :func:`crawl.fetch_robots_rules`
    keys by), or the join silently never matches for ported seeds and
    robots compliance fails open.  One broadcastable join on host + a
    per-URL aggregate; no Python in the loop."""
    host = url_authority(url_col)
    path = F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")), F.lit(""))
    tagged = urls.select(F.col(url_col), host.alias("_host"),
                         path.alias("_path"))
    joined = tagged.join(rules, tagged["_host"] == rules["host"], "left")
    hit = F.col("_path").startswith(F.col("path"))
    verdict = (
        joined.groupBy(url_col)
        .agg(F.max(F.when(F.col("allow") & hit, 1).otherwise(0)
                   ).alias("_allowed"),
             F.max(F.when(~F.col("allow") & hit, 1).otherwise(0)
                   ).alias("_disallowed"))
        .filter((F.col("_allowed") == 1) | (F.col("_disallowed") == 0))
        .select(url_col)
    )
    return urls.join(verdict, url_col, "left_semi")
