"""Candidate-subtree and discard selectors.

Programmatic equivalents of the reference's BODY_XPATH-style rules
(/root/reference/lib/src/xpaths.dart).  Each selector is a scan over DOM
nodes with class/id substring predicates — conceptually a prioritized
CASE WHEN over node attributes, first-match-wins (SURVEY.md §2.3).
Pattern tables are carried over verbatim; they ARE the semantics.
"""

from __future__ import annotations

from .. import dom as _dom
from ..dom import Node

# xpaths.dart:17-43
BODY_CLASS_PATTERNS = [
    # reference lists postContent/articleText/ArticleContent separately;
    # matching here is on lowercased attrs, so each appears once
    "post-text", "post_text", "post-body", "post-entry", "postentry",
    "post-content", "post_content", "postcontent",
    "post_inner_wrapper", "article-text", "articletext",
    "entry-content", "article-content", "article__content", "article-body",
    "article__body", "articlebody", "articlecontent", "page-content",
    "text-content", "body-text", "article__container", "art-content",
]

# xpaths.dart:46-55
BODY_ID_PATTERNS = [
    "entry-content", "article-content", "article__content", "article-body",
    "article__body", "articlebody", "body-text", "art-content",
]

# xpaths.dart:58-74
SECONDARY_BODY_PATTERNS = [
    "post-bodycopy", "storycontent", "story-content", "postarea",
    "art-postcontent", "theme-content", "blog-content", "section-content",
    "single-content", "single-post", "main-column", "wpb_text_column",
    "story-body", "field-body", "fulltext",
]

# xpaths.dart:77-84
CONTENT_CLASS_PATTERNS = [
    "content-main", "content_main", "content-body", "content__body",
    "main-content", "page-content",
]

_CANDIDATE_TAGS = ("article", "div", "main", "section")

# xpaths.dart:190-202
COMMENTS_CLASS_PATTERNS = [
    "commentlist", "comment-page", "comment-list", "comments-content",
    "post-comments", "comments", "comment-", "article-comments", "comol",
    "disqus_thread", "dsq-comments",
]

# xpaths.dart:250-317
OVERALL_DISCARD_PATTERNS = [
    "footer", "related", "viral", "shar", "share-", "share", "social",
    "sociable", "syndication", "jp-", "dpsp-content", "embedded", "embed",
    "newsletter", "subnav", "cookie", "tags", "tag-list", "sidebar", "banner",
    "bar", "meta", "menu", "nav", "avigation", "navbar", "navbox", "post-nav",
    "breadcrumb", "bread-crumb", "author", "button", "byline", "rating",
    "widget", "attachment", "timestamp", "user-info", "user-profile", "-ad-",
    "-icon", "article-infos", "nfoline", "outbrain", "taboola", "criteo",
    "options", "expand", "consent", "modal-content", " ad ", "permission",
    "next-", "-stories", "most-popular", "mol-factbox", "zendeskform",
    "message-container", "slide", "viewport", "premium", "overlay",
    "paid-content", "paidcontent", "obfuscated", "blurred",
]

# xpaths.dart:320-339
HIDDEN_PATTERNS = [
    "comments-title", "nocomments", "reply-", "-reply-", "message",
    "reader-comments", "akismet", "suggest-links", "hide-", "-hide-",
    "hide-print", "hidden", " hidden", " hide", "noprint", "display:none",
    "display: none", "notloaded",
]

_DISCARD_TAGS = ("div", "item", "li", "p", "section", "span")


import re as _re


# per-cache verdict bound: the 13 tables × 2 caches below hold at most
# 2^18 entries together, so a long-lived worker stays bounded (_chtml.c
# table_hit clears at the same TABLE_CACHE_MAX)
TABLE_CACHE_MAX = 1 << 13


class _Table:
    """One pattern table: the compiled alternation (pure-Python path), the
    raw pattern tuple (C path) and the verdict caches both paths share —
    ``cache`` for contains-any, ``cache_m`` for startswith-any — keyed by
    the probed string and cleared wholesale at TABLE_CACHE_MAX."""

    __slots__ = ("regex", "patterns", "cache", "cache_m")

    def __init__(self, patterns):
        self.regex = _re.compile("|".join(_re.escape(p) for p in patterns))
        self.patterns = tuple(patterns)
        self.cache: dict = {}
        self.cache_m: dict = {}


def _class_id(elem: Node) -> tuple[str, str]:
    if _dom._CATTRPAIR is not None:
        return _dom._CATTRPAIR(elem)
    return elem.attrs.get("class", "").lower(), elem.attrs.get("id", "").lower()


# class/id strings repeat heavily across elements AND documents (CMS
# themes), so selector verdicts are memoized per table and string.  Sound
# because every call site uses the match as a boolean only.
def _verdict(cache: dict, probe, s: str) -> bool:
    v = cache.get(s)
    if v is None:
        if len(cache) >= TABLE_CACHE_MAX:
            cache.clear()
        v = cache[s] = probe(s) is not None
    return v


def _hit(table, s: str) -> bool:
    if _dom._CTABLEHIT is not None:
        return _dom._CTABLEHIT(table.cache, table.patterns, s, False)
    return _verdict(table.cache, table.regex.search, s)


def _hit_m(table, s: str) -> bool:
    """Anchored (startswith) variant of _hit, separate cache."""
    if _dom._CTABLEHIT is not None:
        return _dom._CTABLEHIT(table.cache_m, table.patterns, s, True)
    return _verdict(table.cache_m, table.regex.match, s)


def _by_tag(tree: Node, tags: tuple) -> dict:
    """ONE pre-order walk bucketing descendants by tag (document order
    preserved within each bucket).  Selector functions below iterate their
    tag lists in the same per-tag order as before, so results are
    identical — this just replaces N full-tree walks with one."""
    if _dom._CBUCKETS is not None:
        return _dom._CBUCKETS(tree, tags)
    want = {t: [] for t in tags}
    get = want.get
    stack = list(reversed(tree.children))
    pop = stack.pop
    extend = stack.extend
    while stack:
        node = pop()
        bucket = get(node.tag)
        if bucket is not None:
            bucket.append(node)
        if node.children:
            extend(reversed(node.children))
    return want



# compiled alternation forms of the tables above (identical match
# semantics to the any(p in x) scans they replace; the tables stay the
# readable source of truth)
_BODY_CLASS_RE = _Table(BODY_CLASS_PATTERNS)
_BODY_ID_RE = _Table(BODY_ID_PATTERNS)
_SECONDARY_BODY_RE = _Table(SECONDARY_BODY_PATTERNS)
_CONTENT_CLASS_RE = _Table(CONTENT_CLASS_PATTERNS)
_COMMENTS_CLASS_RE = _Table(COMMENTS_CLASS_PATTERNS)
_OVERALL_DISCARD_RE = _Table(OVERALL_DISCARD_PATTERNS)
_HIDDEN_RE = _Table(HIDDEN_PATTERNS)


def select_body_elements(tree: Node) -> list[Node]:
    """5-tier first-match-wins candidate cascade (xpaths.dart:87-187)."""
    buckets = _by_tag(tree, ("article", "div", "main", "section"))
    results: list[Node] = []
    # tier 1: strong class/id/itemprop signals
    for tag in _CANDIDATE_TAGS:
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            if _hit(_BODY_CLASS_RE, cls) or \
               _hit(_BODY_ID_RE, eid) or \
               elem.attrs.get("itemprop") == "articleBody":
                results.append(elem)
    if results:
        return [results[0]]
    # tier 2: first <article>
    if buckets["article"]:
        return [buckets["article"][0]]
    # tier 3: secondary patterns / role=article
    for tag in _CANDIDATE_TAGS:
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            if _hit(_SECONDARY_BODY_RE, cls) or _hit(_SECONDARY_BODY_RE, eid) or \
               elem.attrs.get("role") == "article":
                results.append(elem)
    if results:
        return [results[0]]
    # tier 4: content patterns / exact content
    for tag in _CANDIDATE_TAGS:
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            if _hit(_CONTENT_CLASS_RE, cls) or _hit(_CONTENT_CLASS_RE, eid) or \
               eid == "content" or cls == "content":
                results.append(elem)
    if results:
        return [results[0]]
    # tier 5: main*
    for tag in ("article", "div", "section", "main"):
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            role = elem.attrs.get("role", "")
            if cls.startswith("main") or eid.startswith("main") or role.startswith("main"):
                results.append(elem)
    results.extend(buckets["main"])
    if results:
        return [results[0]]
    return []


def select_comment_elements(tree: Node) -> list[Node]:
    """Comment container selection (xpaths.dart:205-223)."""
    results = []
    buckets = _by_tag(tree, ("div", "section", "ul", "ol"))
    for tag in ("div", "section", "ul", "ol"):
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            if _hit(_COMMENTS_CLASS_RE, cls) or _hit(_COMMENTS_CLASS_RE, eid):
                results.append(elem)
    return results


def select_elements_to_discard(tree: Node) -> list[Node]:
    """Boilerplate discard scan (xpaths.dart:342-380)."""
    results = []
    buckets = _by_tag(tree, _DISCARD_TAGS)
    for tag in _DISCARD_TAGS:
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            role = elem.attrs.get("role", "").lower()
            style = elem.attrs.get("style", "").lower()
            if _hit(_OVERALL_DISCARD_RE, cls) or _hit(_OVERALL_DISCARD_RE, eid) \
                    or _hit(_OVERALL_DISCARD_RE, role):
                results.append(elem)
            elif _hit(_HIDDEN_RE, cls) or _hit(_HIDDEN_RE, eid) \
                    or _hit(_HIDDEN_RE, style):
                results.append(elem)
            elif elem.attrs.get("aria-hidden") == "true":
                results.append(elem)
    return results


def select_teasers_to_discard(tree: Node) -> list[Node]:
    """xpaths.dart:383-398."""
    results = []
    buckets = _by_tag(tree, _DISCARD_TAGS)
    for tag in _DISCARD_TAGS:
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            if "teaser" in cls or "teaser" in eid:
                results.append(elem)
    return results


def select_precision_discard_elements(tree: Node) -> list[Node]:
    """xpaths.dart:401-425."""
    buckets = _by_tag(tree, ("header",) + _DISCARD_TAGS)
    results = list(buckets["header"])
    for tag in _DISCARD_TAGS:
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            style = elem.attrs.get("style", "")
            if "bottom" in cls or "bottom" in eid or "link" in cls or "link" in eid \
               or "border" in style:
                results.append(elem)
    return results


def select_overall_discard_elements(tree: Node) -> list[Node]:
    """Union of discard selectors for precision pre-cleaning (xpaths.dart:428-437)."""
    seen: list[Node] = []
    ids = set()
    for elem in (select_elements_to_discard(tree)
                 + select_precision_discard_elements(tree)
                 + select_teasers_to_discard(tree)):
        if id(elem) not in ids:
            ids.add(id(elem))
            seen.append(elem)
    return seen


def select_basic_clean_elements(tree: Node) -> list[Node]:
    """Baseline-path cleaning targets (xpaths.dart:743-766)."""
    buckets = _by_tag(tree, ("aside", "div", "footer", "script", "style"))
    results = list(buckets["aside"])
    for elem in buckets["div"]:
        cls, eid = _class_id(elem)
        if "footer" in cls or "footer" in eid:
            results.append(elem)
    results.extend(buckets["footer"])
    results.extend(buckets["script"])
    results.extend(buckets["style"])
    return results


# -- metadata selectors (xpaths.dart:503-740) --------------------------------

AUTHOR_PATTERNS = [
    "author", "author-name", "authorname", "byline", "channel-name", "zuozhe",
    "bianji", "xiaobian", "submitted-by", "posted-by", "username", "byl",
    "journalist-name", "screenname", "writer",
]

AUTHOR_DISCARD_PATTERNS = [
    "comments", "commentlist", "title", "date", "sidebar", "is-hidden",
    "quote", "comment-list", "comments-list", "embedly-instagram",
    "productreviews", "figure", "article-share", "article-support", "print",
    "category", "meta-date", "meta-reviewer",
]
_AUTHOR_DISCARD_RE = _Table(AUTHOR_DISCARD_PATTERNS)

CATEGORY_CLASS_PATTERNS = [
    "post-info", "postinfo", "post-meta", "postmeta", "meta", "entry-meta",
    "entry-info", "entry-utility", "postpath", "entry-categories",
    "entry-footer", "post-category", "postcategory", "entry-category",
    "cat-links", "entry-header",
]

TAG_CLASS_PATTERNS = [
    "tags", "entry-tags", "jp-relatedposts", "entry-utility", "tag",
    "postmeta", "meta", "entry-meta", "topics", "tags-links",
]

TITLE_CLASS_PATTERNS = [
    "post-title", "entry-title", "headline", "post__title", "article-title",
    "title",
]

_AUTHOR_RE = _Table(AUTHOR_PATTERNS)
_CATEGORY_CLASS_RE = _Table(CATEGORY_CLASS_PATTERNS)
_TAG_CLASS_RE = _Table(TAG_CLASS_PATTERNS)
_TITLE_CLASS_RE = _Table(TITLE_CLASS_PATTERNS)


# The metadata selectors below read the per-tag, document-order element
# lists of extract_metadata's one shared walk (metadata._MetaWalk).

def select_author_elements(buckets: dict) -> list[Node]:
    """xpaths.dart:524-560."""
    results = []
    for tag in ("a", "address", "div", "link", "p", "span", "strong"):
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            rel = elem.attrs.get("rel", "")
            itemprop = elem.attrs.get("itemprop", "")
            data_testid = elem.attrs.get("data-testid", "")
            if rel in ("author", "me") or eid == "author" or cls == "author" or \
               "author" in itemprop or data_testid in ("AuthorCard", "AuthorURL"):
                results.append(elem)
                continue
            if _hit(_AUTHOR_RE, cls) or _hit(_AUTHOR_RE, eid):
                results.append(elem)
    results.extend(buckets["author"])
    return results


def select_author_discard_elements(buckets: dict) -> list[Node]:
    """xpaths.dart:585-612."""
    results = []
    for tag in ("a", "div", "section", "span"):
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            data_component = elem.attrs.get("data-component", "").lower()
            if _hit(_AUTHOR_DISCARD_RE, cls) or _hit(_AUTHOR_DISCARD_RE, eid) \
                    or _hit(_AUTHOR_DISCARD_RE, data_component):
                results.append(elem)
    results.extend(buckets["time"])
    results.extend(buckets["figure"])
    return results


def select_cats_tags_links(buckets: dict) -> tuple[list[Node], list[Node]]:
    """Category links (xpaths.dart:635-665) and tag links
    (xpaths.dart:682-701): the inner a[href] nodes of each container."""
    cats: list[Node] = []
    for tag in ("div", "p", "footer", "li", "span", "header"):
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            if _hit(_CATEGORY_CLASS_RE, cls) or _hit_m(_CATEGORY_CLASS_RE, eid):
                cats.extend(a for a in elem.iterdesc("a") if "href" in a.attrs)
    for elem in buckets["div"]:
        if elem.class_name in ("row", "tags"):
            cats.extend(a for a in elem.iterdesc("a") if "href" in a.attrs)
    tags_links: list[Node] = []
    for tag in ("div", "p"):
        for elem in buckets[tag]:
            cls = elem.attrs.get("class", "").lower()
            if _hit(_TAG_CLASS_RE, cls):
                tags_links.extend(a for a in elem.iterdesc("a")
                                  if "href" in a.attrs)
    return cats, tags_links


def select_title_elements(buckets: dict, classed: list[Node]) -> list[Node]:
    """xpaths.dart:714-740.  ``classed`` holds the document-order
    elements whose class is exactly entry-title/post-title."""
    results = []
    for tag in ("h1", "h2", "h3"):
        for elem in buckets[tag]:
            cls, eid = _class_id(elem)
            itemprop = elem.attrs.get("itemprop", "")
            if _hit(_TITLE_CLASS_RE, cls) or _hit(_TITLE_CLASS_RE, eid) \
                    or _hit(_TITLE_CLASS_RE, itemprop):
                results.append(elem)
    results.extend(classed)
    return results
