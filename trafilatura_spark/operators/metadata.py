"""Metadata extraction: OpenGraph → meta sweep → JSON-LD → DOM fallbacks.

Re-expression of /root/reference/lib/src/metadata.dart:638-743 and
json_metadata.dart.  Precedence is first-writer-wins per field with
OpenGraph highest (SURVEY.md §3.2).  Returns a plain dict matching the
output ``meta`` struct (FIXTURES.md §2).
"""

from __future__ import annotations

import json
import re
from urllib.parse import urlparse

from .. import dom as _dom
from ..dom import Node
from ..functions.textutils import trim
from .selectors import (
    select_author_discard_elements,
    select_author_elements,
    select_cats_tags_links,
    select_title_elements,
)

META_FIELDS = (
    "title author url hostname description sitename date categories tags "
    "fingerprint id license language image pagetype filedate"
).split()

# metadata.dart:21
HTML_TITLE_RE = re.compile(r"^(.+)?\s+[–•·—|⁄*⋆~‹«<›»>:-]\s+(.+)$")
CLEAN_META_TAGS_RE = re.compile(r"[\"']")
LICENSE_RE = re.compile(r"/(by-nc-nd|by-nc-sa|by-nc|by-nd|by-sa|by|zero)/([1-9]\.[0-9])")
TEXT_LICENSE_RE = re.compile(
    r"(cc|creative commons) (by-nc-nd|by-nc-sa|by-nc|by-nd|by-sa|by|zero) ?([1-9]\.[0-9])?",
    re.I,
)
META_URL_RE = re.compile(r"https?://(?:www\.)?([^/]+)")
STRIP_TAGS_RE = re.compile(r"<[^>]+>")

# metadata.dart:38-116 meta-name attribute sets
METANAME_AUTHOR = frozenset("""
article:author atc-metaauthor author authors byl citation_author creator
dc.creator dc.creator.aut dc:creator dcterms.creator dcterms.creator.aut
dcsext.author parsely-author rbauthors sailthru.author
shareaholic:article_author_name
""".split())
METANAME_DESCRIPTION = frozenset("""
dc.description dc:description dcterms.abstract dcterms.description description
sailthru.description twitter:description
""".split())
METANAME_PUBLISHER = frozenset("""
article:publisher citation_journal_title copyright dc.publisher dc:publisher
dcterms.publisher publisher sailthru.publisher rbpubname twitter:site
""".split())
METANAME_TAG = frozenset("""
citation_keywords dcterms.subject keywords parsely-tags shareaholic:keywords tags
""".split())
METANAME_TITLE = frozenset("""
citation_title dc.title dcterms.title fb_title headline parsely-title
sailthru.title shareaholic:title rbtitle title twitter:title
""".split())
METANAME_IMAGE = frozenset("""
image og:image og:image:url og:image:secure_url twitter:image twitter:image:src
""".split())
PROPERTY_AUTHOR = frozenset(["author", "article:author"])
TWITTER_ATTRS = frozenset(["twitter:site", "application-name"])
OG_PROPERTIES = {
    "og:title": "title",
    "og:description": "description",
    "og:site_name": "sitename",
    "og:image": "image",
    "og:image:url": "image",
    "og:image:secure_url": "image",
    "og:type": "pagetype",
}
OG_AUTHOR = frozenset(["og:author", "og:article:author"])

# json_metadata.dart:11-67 schema type tables (full 20-type zoo)
JSON_ARTICLE_SCHEMA = frozenset("""
article advertisercontentarticle newsarticle analysisnewsarticle
askpublicnewsarticle backgroundnewsarticle opinionnewsarticle
reportagenewsarticle reviewnewsarticle report satiricalarticle
scholarlyarticle medicalscholarlyarticle socialmediaposting blogposting
liveblogposting discussionforumposting techarticle blog jobposting
""".split())
# json_metadata.dart:25-60 — webpage types + article types
JSON_OGTYPE_SCHEMA = frozenset("""
aboutpage checkoutpage collectionpage contactpage faqpage itempage
medicalwebpage profilepage qapage realestatelisting searchresultspage
webpage website
""".split()) | JSON_ARTICLE_SCHEMA
JSON_PUBLISHER_SCHEMA = frozenset(
    "newsmediaorganization organization webpage website".split()
)
_JSON_SCHEMA_ORG = re.compile(r"^https?://schema\.org", re.I)
_AUTHOR_ATTRS = ("givenName", "additionalName", "familyName")

# json_metadata.dart:73-124 regex salvage + author normalization
_JSON_AUTHOR_1 = re.compile(
    r'"author":[^}\[]+?"name?\\?": ?\\?"([^"\\]+)|"author"[^}\[]+?"names?".+?"([^"]+)',
    re.S,
)
_JSON_AUTHOR_2 = re.compile(r'"[Pp]erson"[^}]+?"names?".+?"([^"]+)', re.S)
# json_metadata.dart:82-84 — strip nested ImageObject/Organization/WebPage
# sub-objects before author salvage (their "name" fields are not authors)
_JSON_AUTHOR_REMOVE = re.compile(
    r',?(?:"\w+":?[:|,\[])?{?"@type":"(?:[Ii]mageObject|[Oo]rganization|'
    r'[Ww]eb[Pp]age)",[^}\[]+}[\]|}]?')
_JSON_TYPE_RE = re.compile(r'"@type"\s*:\s*"([^"]*)"', re.S)
_JSON_REMOVE_HTML = re.compile(r"<[^>]+>")
_JSON_UNICODE_REPLACE = re.compile(r"\\u([0-9a-fA-F]{4})")
_JSON_PUBLISHER_RE = re.compile(r'"publisher":[^}]+?"name?\\?": ?\\?"([^"\\]+)', re.S)
_JSON_CATEGORY_RE = re.compile(r'"articleSection": ?"([^"\\]+)', re.S)
_JSON_NAME_RE = re.compile(r'"@type":"[Aa]rticle", ?"name": ?"([^"\\]+)', re.S)
_JSON_HEADLINE_RE = re.compile(r'"headline": ?"([^"\\]+)', re.S)

_AUTHOR_PREFIX = re.compile(
    r"^([a-zäöüß]+(ed|t))? ?(view all posts by|all posts by|posted by|"
    r"written by|words by|words|by|von|from) ", re.I)
_AUTHOR_REMOVE_NUMBERS = re.compile(r"\d.+?$")
_AUTHOR_TWITTER = re.compile(r"@[\w]+")
_AUTHOR_REPLACE_JOIN = re.compile(r"[._+]")
_AUTHOR_REMOVE_NICKNAME = re.compile(r"[\"'({\[][^\"]+?['\")\]}]")
_AUTHOR_REMOVE_SPECIAL = re.compile(r"[^\w]+$|[:()?*$#!%/<>{}~¿]")
_AUTHOR_REMOVE_PREPOSITION = re.compile(
    r"\b\s+(am|on|for|at|in|to|from|of|via|with|—|-|–)\s+(.*)", re.I)
_AUTHOR_EMAIL = re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b")
_AUTHOR_SPLIT = re.compile(r"/|;|,|\||&|(?:^|\W)[ua]nd(?:$|\W)", re.I)

_DATE_SELECT_META = (
    ("property", "article:published_time"),
    ("name", "date"),
    ("name", "dc.date"),
    ("name", "dcterms.date"),
    ("property", "og:updated_time"),
)
_DATE_ISO = re.compile(r"(\d{4})-(\d{2})-(\d{2})")
_DATE_US = re.compile(r"(\d{2})/(\d{2})/(\d{4})")
_MONTHS = {m: f"{i:02d}" for i, m in enumerate(
    "jan feb mar apr may jun jul aug sep oct nov dec".split(), start=1)}
_DATE_TEXT = re.compile(
    r"(\d{1,2})\s+(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+(\d{4})",
    re.I,
)


def _empty_meta() -> dict:
    meta = {f: None for f in META_FIELDS}
    meta["categories"] = []
    meta["tags"] = []
    return meta


def is_valid_url(url: str | None) -> bool:
    if not url:
        return False
    try:
        u = urlparse(url)
        return u.scheme in ("http", "https") and bool(u.netloc)
    except ValueError:
        return False


def normalize_url(url: str) -> str:
    try:
        u = urlparse(url)
        path = u.path
        if path.endswith("/") and len(path) > 1:
            path = path[:-1]
        return u._replace(path=path).geturl()
    except ValueError:
        return url


def extract_domain(url: str) -> str | None:
    try:
        return urlparse(url).hostname
    except ValueError:
        return None


def normalize_authors(current: str | None, author_string: str) -> str | None:
    """json_metadata.dart:97-123 cleanup chain."""
    if not author_string:
        return current
    if author_string.lower().startswith("http") or _AUTHOR_EMAIL.search(author_string):
        return current
    author_string = STRIP_TAGS_RE.sub("", author_string)
    new_authors = []
    existing = [a.strip() for a in current.split(";")] if current else []
    for author in _AUTHOR_SPLIT.split(author_string):
        if author is None:
            continue
        author = trim(author)
        author = _AUTHOR_EMOJI_STRIP(author)
        author = _AUTHOR_TWITTER.sub("", author)
        author = _AUTHOR_PREFIX.sub("", author)
        author = _AUTHOR_REMOVE_NUMBERS.sub("", author) if any(c.isdigit() for c in author) else author
        author = _AUTHOR_REMOVE_NICKNAME.sub("", author)
        author = _AUTHOR_REMOVE_PREPOSITION.sub("", author)
        author = _AUTHOR_REPLACE_JOIN.sub(" ", author)
        author = _AUTHOR_REMOVE_SPECIAL.sub("", author)
        author = trim(author)
        if author and len(author) > 1 and author not in existing:
            # title-case lowercase names
            if not any(c.isupper() for c in author):
                author = author.title()
            new_authors.append(author)
    if not new_authors:
        return current
    all_authors = existing + new_authors
    return "; ".join(a for a in all_authors if a)


def _AUTHOR_EMOJI_STRIP(s: str) -> str:
    return "".join(c for c in s if not (0x1F300 <= ord(c) <= 0x1FAFF
                                        or 0x2600 <= ord(c) <= 0x27BF))


def normalize_tags(tags: str) -> str:
    t = trim(_html_unescape(tags))
    if not t:
        return ""
    t = CLEAN_META_TAGS_RE.sub("", t)
    return ", ".join(s for s in t.split(", ") if s)


def _html_unescape(text: str) -> str:
    return (text.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
            .replace("&quot;", '"').replace("&#39;", "'").replace("&nbsp;", " "))


def _head(tree: Node) -> Node:
    return tree.find("head") or tree


def extract_opengraph(tree: Node) -> dict:
    """metadata.dart:214-242."""
    result = {k: None for k in ("title", "author", "url", "description",
                                "sitename", "image", "pagetype")}
    for elem in _head(tree).iterdesc("meta"):
        prop = elem.attrs.get("property", "")
        content = elem.attrs.get("content", "")
        if not prop.startswith("og:") or not content.strip():
            continue
        if prop in OG_PROPERTIES:
            result[OG_PROPERTIES[prop]] = content
        elif prop == "og:url" and is_valid_url(content):
            result["url"] = content
        elif prop in OG_AUTHOR:
            result["author"] = normalize_authors(None, content)
    return result


def examine_meta(tree: Node) -> dict:
    """metadata.dart:245-335."""
    meta = _empty_meta()
    og = extract_opengraph(tree)
    for k in ("title", "author", "url", "description", "sitename", "image", "pagetype"):
        meta[k] = og.get(k)
    if all(meta[k] for k in ("title", "author", "url", "description", "sitename", "image")):
        return meta

    tags: list[str] = []
    backup_sitename = None
    for elem in _head(tree).iterdesc("meta"):
        content_attr = STRIP_TAGS_RE.sub("", elem.attrs.get("content", "")).strip()
        if not content_attr:
            continue
        if "property" in elem.attrs:
            prop = elem.attrs["property"].lower()
            if prop.startswith("og:"):
                continue
            if prop == "article:tag":
                tags.append(normalize_tags(content_attr))
            elif prop in PROPERTY_AUTHOR:
                meta["author"] = normalize_authors(meta["author"], content_attr)
            elif prop == "article:publisher":
                meta["sitename"] = meta["sitename"] or content_attr
            elif prop in METANAME_IMAGE:
                meta["image"] = meta["image"] or content_attr
        elif "name" in elem.attrs:
            name = elem.attrs["name"].lower()
            if name in METANAME_AUTHOR:
                meta["author"] = normalize_authors(meta["author"], content_attr)
            elif name in METANAME_TITLE:
                meta["title"] = meta["title"] or content_attr
            elif name in METANAME_DESCRIPTION:
                meta["description"] = meta["description"] or content_attr
            elif name in METANAME_PUBLISHER:
                meta["sitename"] = meta["sitename"] or content_attr
            elif name in METANAME_IMAGE:
                meta["image"] = meta["image"] or content_attr
            elif name in TWITTER_ATTRS or "twitter:app:name" in name:
                backup_sitename = content_attr
            elif name == "twitter:url" and not meta["url"] and is_valid_url(content_attr):
                meta["url"] = content_attr
            elif name in METANAME_TAG:
                tags.append(normalize_tags(content_attr))
        elif "itemprop" in elem.attrs:
            itemprop = elem.attrs["itemprop"].lower()
            if itemprop == "author":
                meta["author"] = normalize_authors(meta["author"], content_attr)
            elif itemprop == "description":
                meta["description"] = meta["description"] or content_attr
            elif itemprop == "headline":
                meta["title"] = meta["title"] or content_attr
    meta["sitename"] = meta["sitename"] or backup_sitename
    meta["tags"] = [t for t in tags if t]
    return meta


def _json_plausible_sitename(meta: dict, candidate, content_type=None) -> bool:
    if candidate and isinstance(candidate, str):
        if meta["sitename"] is None or (
            len(meta["sitename"]) < len(candidate) and content_type != "webpage"
        ):
            return True
        if meta["sitename"] and meta["sitename"].startswith("http") \
                and not candidate.startswith("http"):
            return True
    return False


def _process_json_parent(parent: list, meta: dict) -> dict:
    """json_metadata.dart:147-249."""
    for content in parent:
        if not isinstance(content, dict):
            continue
        publisher = content.get("publisher")
        if isinstance(publisher, dict) and \
                isinstance(publisher.get("name"), str) and publisher["name"]:
            meta["sitename"] = publisher["name"]
        ctype = content.get("@type")
        if not ctype:
            continue
        if isinstance(ctype, list):
            ctype = ctype[0] if ctype else ""
        if not isinstance(ctype, str):
            continue
        ctype = ctype.lower()
        # pagetype applies to ANY og-type schema (webpage/website/faq…),
        # not just articles — set before branching
        # (json_metadata.dart:167-169)
        if meta["pagetype"] is None and ctype in JSON_OGTYPE_SCHEMA:
            meta["pagetype"] = ctype
        if ctype in JSON_PUBLISHER_SCHEMA:
            name = content.get("name") or content.get("legalName") \
                or (content.get("alternateName"))
            if isinstance(name, str) and \
                    _json_plausible_sitename(meta, name, ctype):
                meta["sitename"] = name
        elif ctype == "person":
            name = content.get("name")
            if isinstance(name, str) and name:
                meta["author"] = normalize_authors(meta["author"], name)
        elif ctype in JSON_ARTICLE_SCHEMA:
            authors = content.get("author")
            if authors is not None:
                if isinstance(authors, str):
                    try:
                        authors = json.loads(authors)
                    except ValueError:
                        meta["author"] = normalize_authors(meta["author"], authors)
                        authors = []
                if not isinstance(authors, list):
                    authors = [authors]
                for author in authors:
                    if isinstance(author, dict) and author.get("@type", "Person") == "Person":
                        name = author.get("name")
                        author_name = None
                        if isinstance(name, list):
                            author_name = "; ".join(str(n) for n in name)
                        elif isinstance(name, dict):
                            author_name = name.get("name")
                        elif isinstance(name, str):
                            author_name = name
                        elif all(a in author for a in ("givenName", "familyName")):
                            author_name = " ".join(
                                str(author[a]) for a in _AUTHOR_ATTRS if a in author)
                        if author_name and isinstance(author_name, str):
                            meta["author"] = normalize_authors(meta["author"], author_name)
            if not meta["categories"] and "articleSection" in content:
                section = content["articleSection"]
                if isinstance(section, str):
                    meta["categories"] = [section]
                elif isinstance(section, list):
                    meta["categories"] = [s for s in section if isinstance(s, str) and s]
            if meta["title"] is None:
                # string-typed only: a list/dict here would violate the
                # Spark META_TYPE schema and fail the whole Arrow batch
                if ctype == "article" and isinstance(content.get("name"), str):
                    meta["title"] = content["name"]
                elif isinstance(content.get("headline"), str):
                    meta["title"] = content["headline"]
    return meta


def _extract_json(schema, meta: dict) -> dict:
    """json_metadata.dart:252-286."""
    schema_list = [schema] if isinstance(schema, dict) else schema
    if not isinstance(schema_list, list):
        return meta
    for parent in schema_list:
        if not isinstance(parent, dict):
            continue
        context = parent.get("@context")
        if isinstance(context, str) and _JSON_SCHEMA_ORG.match(context):
            if "@graph" in parent and isinstance(parent["@graph"], list):
                meta = _process_json_parent(parent["@graph"], meta)
            elif parent.get("@type") == "LiveBlogPosting" and \
                    isinstance(parent.get("liveBlogUpdate"), list):
                meta = _process_json_parent(parent["liveBlogUpdate"], meta)
            else:
                meta = _process_json_parent([parent], meta)
        elif "@type" in parent:
            meta = _process_json_parent([parent], meta)
    return meta


def normalize_json(string: str) -> str:
    """normalizeJson (json_metadata.dart:367-385): strip literal \\n/\\r/\\t,
    decode \\uXXXX escapes, drop lone surrogates, unescape HTML entities,
    strip tags, trim."""
    from html import unescape
    if "\\" in string:
        string = string.replace("\\n", "").replace("\\r", "").replace("\\t", "")
        string = _JSON_UNICODE_REPLACE.sub(
            lambda m: chr(int(m.group(1), 16)), string)
        string = "".join(c for c in string if not 0xD800 <= ord(c) <= 0xDFFF)
        string = unescape(string)
    if _JSON_REMOVE_HTML.search(string):
        string = _JSON_REMOVE_HTML.sub("", string)
    return trim(string)


def _extract_json_parse_error(text: str, meta: dict) -> dict:
    """Regex salvage on malformed JSON-LD (json_metadata.dart:308-363):
    full zoo — author (after sub-object removal), @type → pagetype,
    publisher, articleSection, name/headline title."""
    if meta["author"] is None:
        cleaned = _JSON_AUTHOR_REMOVE.sub("", text)
        for rx in (_JSON_AUTHOR_1, _JSON_AUTHOR_2):
            m = rx.search(cleaned)
            if m:
                name = m.group(1) or (m.group(2) if rx.groups >= 2 and m.lastindex and m.lastindex >= 2 else None)
                if name:
                    meta["author"] = normalize_authors(meta["author"],
                                                       normalize_json(name))
                    break
    if meta["pagetype"] is None and "@type" in text:
        m = _JSON_TYPE_RE.search(text)
        if m:
            candidate = normalize_json(m.group(1).lower())
            if candidate in JSON_OGTYPE_SCHEMA:
                meta["pagetype"] = candidate
    if meta["sitename"] is None and '"publisher"' in text:
        m = _JSON_PUBLISHER_RE.search(text)
        if m and "," not in m.group(1):
            candidate = normalize_json(m.group(1))
            if _json_plausible_sitename(meta, candidate):
                meta["sitename"] = candidate
    if not meta["categories"]:
        m = _JSON_CATEGORY_RE.search(text)
        if m:
            meta["categories"] = [normalize_json(m.group(1))]
    if meta["title"] is None:
        for key, rx in (('"name"', _JSON_NAME_RE),
                        ('"headline"', _JSON_HEADLINE_RE)):
            if key in text:
                m = rx.search(text)
                if m:
                    meta["title"] = normalize_json(m.group(1))
                    break
    return meta


def extract_meta_json(scripts: list[Node], meta: dict) -> dict:
    """metadata.dart:187-211 over the document's <script> elements."""
    for elem in scripts:
        if elem.attrs.get("type") not in ("application/ld+json",
                                          "application/settings+json"):
            continue
        text = elem.text_content()
        if not text:
            continue
        try:
            schema = json.loads(text)
            meta = _extract_json(schema, meta)
        except ValueError:
            meta = _extract_json_parse_error(text, meta)
    return meta


def _examine_title_element(tree: Node) -> tuple[str, str | None, str | None]:
    """metadata.dart:362-375."""
    title = ""
    for elem in _head(tree).iterdesc("title"):
        title = trim(elem.text_content())
        break
    m = HTML_TITLE_RE.match(title)
    if m:
        return title, m.group(1), m.group(2)
    return title, None, None


def extract_title(tree: Node, walk: _MetaWalk) -> str | None:
    """metadata.dart:378-415."""
    h1s = walk.buckets["h1"]
    if len(h1s) == 1:
        t = trim(h1s[0].text_content())
        if t:
            return t
    for elem in select_title_elements(walk.buckets, walk.title_classed):
        content = trim(elem.text_content())
        if content and 2 < len(content) < 200:
            return content
    title_text, first, second = _examine_title_element(tree)
    for t in (first, second):
        if t is not None and "." not in t:
            return t
    if h1s:
        return h1s[0].text_content()
    h2s = walk.buckets["h2"]
    if h2s:
        return h2s[0].text_content()
    return title_text or None


def _text_content_excluding(node: Node, excluded: set) -> str:
    """text_content() in document order as if the excluded subtrees had
    been drop_tree'd (keep_tail semantics: an excluded node's tail stays
    in the flow)."""
    parts = [node.text]
    stack: list = list(reversed(node.children))
    while stack:
        n = stack.pop()
        if type(n) is str:
            parts.append(n)
            continue
        if id(n) in excluded:
            if n.tail:
                parts.append(n.tail)
            continue
        parts.append(n.text)
        if n.tail:
            stack.append(n.tail)
        if n.children:
            stack.extend(reversed(n.children))
    return "".join(parts)


def extract_author(buckets: dict) -> str | None:
    """metadata.dart:418-431.  Equivalent to copy→prune→select, without
    the full-tree copy (a per-document hot spot): discarded subtrees are
    excluded from both candidate selection and candidate text."""
    excluded = {id(e) for e in select_author_discard_elements(buckets)}
    for elem in select_author_elements(buckets):
        if excluded:
            n, skip = elem, False
            while n is not None:
                if id(n) in excluded:
                    skip = True
                    break
                n = n.parent
            if skip:
                continue
            content = trim(_text_content_excluding(elem, excluded))
        else:
            content = trim(elem.text_content())
        if content and 2 < len(content) < 120:
            return normalize_authors(None, content)
    return None


def extract_url(tree: Node, default_url: str | None = None) -> str | None:
    """metadata.dart:434-469."""
    url = None
    head = _head(tree)
    for elem in head.iterdesc("link"):
        if elem.attrs.get("rel") == "canonical" and elem.attrs.get("href"):
            url = elem.attrs["href"]
            break
    if url is None:
        for elem in head.iterdesc("base"):
            if elem.attrs.get("href"):
                url = elem.attrs["href"]
                break
    if url is None:
        for elem in head.iterdesc("link"):
            if elem.attrs.get("rel") == "alternate" and \
               elem.attrs.get("hreflang") == "x-default" and elem.attrs.get("href"):
                url = elem.attrs["href"]
                break
    if url and url.startswith("/"):
        for elem in head.iterdesc("meta"):
            attr_type = elem.attrs.get("name") or elem.attrs.get("property") or ""
            if attr_type.startswith(("og:", "twitter:")):
                content = elem.attrs.get("content", "")
                if is_valid_url(content):
                    u = urlparse(content)
                    url = f"{u.scheme}://{u.netloc}{url}"
                    break
    if url is not None:
        url = normalize_url(url) if is_valid_url(url) else None
    return url or default_url


def extract_sitename(tree: Node) -> str | None:
    _, first, second = _examine_title_element(tree)
    for part in (first, second):
        if part is not None and "." in part:
            return part
    return None


class _MetaWalk:
    """All full-tree scans extract_metadata needs, collected in ONE
    pre-order walk.  Each bucket/list holds its elements in document
    order, which is the order the reference's selectors visit them in:

    - ``buckets``: tag → elements, for the union of tags the selector
      family reads (xpaths.dart author/category/tag/title selectors,
      metadata.dart find_date/extract_license, JSON-LD scripts).
    - ``title_classed``: class exactly entry-title/post-title (any tag).
    - ``date_classed``: abbr/span/div/p whose class carries
      published/post-date/entry-date (merged document order — find_date
      scans these interleaved across tags).
    - ``license_containers``: <footer> plus footer-classed <div>
      (merged document order, extract_license's second pass).
    """

    __slots__ = ("buckets", "title_classed", "date_classed",
                 "license_containers")

    _TAGS = ("a", "address", "div", "link", "p", "span", "strong", "author",
             "section", "time", "figure", "footer", "li", "header",
             "h1", "h2", "h3", "meta", "abbr", "script")
    # one source of truth for BOTH the C call and the Python walk below —
    # editing a table here keeps the two paths in lockstep
    _DATE_CLASS_TAGS = ("abbr", "span", "div", "p")
    _TITLE_EXACT = ("entry-title", "post-title")
    _DATE_SUBS = ("published", "post-date", "entry-date")
    _FOOTER = "footer"

    def __init__(self, tree: Node):
        if _dom._CMETAIDX is not None:
            # one C walk, value-exact vs the Python walk below
            # (differential: tests/test_chtml.py)
            (self.buckets, self.title_classed, self.date_classed,
             self.license_containers) = _dom._CMETAIDX(
                tree, self._TAGS, self._DATE_CLASS_TAGS,
                self._TITLE_EXACT, self._DATE_SUBS, self._FOOTER)
            return
        buckets = {t: [] for t in self._TAGS}
        self.buckets = buckets
        self.title_classed = title_classed = []
        self.date_classed = date_classed = []
        self.license_containers = license_containers = []
        get = buckets.get
        date_tags = frozenset(self._DATE_CLASS_TAGS)
        title_exact = self._TITLE_EXACT
        date_subs = self._DATE_SUBS
        footer = self._FOOTER
        stack = list(reversed(tree.children))
        pop = stack.pop
        extend = stack.extend
        while stack:
            node = pop()
            tag = node.tag
            b = get(tag)
            if b is not None:
                b.append(node)
            attrs = node.attrs
            if attrs:
                cls = attrs.get("class")
                if cls is not None:
                    if cls in title_exact:
                        title_classed.append(node)
                    if tag in date_tags:
                        low = cls.lower()
                        if any(sub in low for sub in date_subs):
                            date_classed.append(node)
                if tag == "div" and (footer in attrs.get("class", "")
                                     or footer in attrs.get("id", "")):
                    license_containers.append(node)
            if tag == footer:
                license_containers.append(node)
            if node.children:
                extend(reversed(node.children))


def extract_catstags(metatype: str, tree: Node, links: list[Node]) -> list[str]:
    """metadata.dart:483-527 over the ``metatype``'s candidate links
    (select_cats_tags_links)."""
    results: list[str] = []
    regexpr = re.compile(rf"/{metatype}[s|(ies)]?/")
    for elem in links:
        href = elem.attrs.get("href", "")
        if regexpr.search(href):
            results.append(elem.text_content())
    if not results and metatype == "category":
        for elem in _head(tree).iterdesc("meta"):
            prop = elem.attrs.get("property", "")
            name = elem.attrs.get("name", "")
            if (prop == "article:section" or "subject" in name) and elem.attrs.get("content"):
                results.append(elem.attrs["content"])
    out, seen = [], set()
    for r in (trim(x) for x in results):
        if r and r not in seen:
            seen.add(r)
            out.append(r)
    return out


def _parse_license_element(element: Node, strict: bool = False) -> str | None:
    href = element.attrs.get("href", "")
    m = LICENSE_RE.search(href)
    if m:
        return f"CC {m.group(1).upper()} {m.group(2)}"
    text = element.text_content()
    if text:
        if strict:
            tm = TEXT_LICENSE_RE.search(text)
            return tm.group(0) if tm else None
        return trim(text)
    return None


def extract_license(walk: _MetaWalk) -> str | None:
    """metadata.dart:551-571.

    The rel=license anchor scan early-returns like the reference's
    first loop; the footer containers of the strict second pass come
    from the shared walk in document order, and that pass only runs
    when no anchor produced a license."""
    for element in walk.buckets["a"]:
        if element.attrs.get("rel") == "license" and "href" in element.attrs:
            result = _parse_license_element(element, strict=False)
            if result:
                return result
    for container in walk.license_containers:
        for element in container.iterdesc("a"):
            if "href" in element.attrs:
                result = _parse_license_element(element, strict=True)
                if result:
                    return result
    return None


def _parse_date(date_str: str) -> str | None:
    m = _DATE_ISO.search(date_str)
    if m:
        return f"{m.group(1)}-{m.group(2)}-{m.group(3)}"
    m = _DATE_US.search(date_str)
    if m:
        return f"{m.group(3)}-{m.group(1)}-{m.group(2)}"
    m = _DATE_TEXT.search(date_str)
    if m:
        return f"{m.group(3)}-{_MONTHS[m.group(2).lower()[:3]]}-{int(m.group(1)):02d}"
    return None


def find_date(tree: Node, walk: _MetaWalk) -> str | None:
    """metadata.dart:765-811 (simplified htmldate).

    The shared walk holds the three candidate categories (meta tags,
    <time> elements, date-classed elements); they are evaluated in the
    reference's category order, then the whole-page text is searched."""
    for elem in walk.buckets["meta"]:
        for attr, want in _DATE_SELECT_META:
            if elem.attrs.get(attr, "").lower() == want and elem.attrs.get("content"):
                parsed = _parse_date(elem.attrs["content"])
                if parsed:
                    return parsed
    for elem in walk.buckets["time"]:
        date_str = elem.attrs.get("datetime") or elem.attrs.get("pubdate") \
            or elem.text_content()
        if date_str:
            parsed = _parse_date(date_str)
            if parsed:
                return parsed
    # date-classed elements carrying the value in title/datetime attrs
    # (e.g. blogspot's <abbr class='published' title='…'>)
    for elem in walk.date_classed:
        for cand in (elem.attrs.get("title"), elem.attrs.get("datetime"),
                     elem.text_content()):
            if cand:
                parsed = _parse_date(cand)
                if parsed:
                    return parsed
    text = tree.text_content()
    for rx in (_DATE_ISO, _DATE_US, _DATE_TEXT):
        m = rx.search(text)
        if m:
            parsed = _parse_date(m.group(0))
            if parsed:
                return parsed
    return None


def _clean_and_trim(meta: dict) -> dict:
    """settings.dart:333-366."""
    for field in META_FIELDS:
        value = meta.get(field)
        if isinstance(value, str):
            if len(value) > 10000:
                value = value[:9999] + "…"
            meta[field] = trim(value)
    return meta


def _drop_blacklisted(author: str | None, blocked: set) -> str | None:
    """``author`` ("; "-separated names) minus the names whose lowercase
    form is in ``blocked``; None when no name is left."""
    if author is None or not blocked:
        return author
    kept = [a.strip() for a in author.split(";")
            if a.strip() and a.strip().lower() not in blocked]
    return "; ".join(kept) if kept else None


def extract_metadata(tree: Node, default_url: str | None = None,
                     author_blacklist: frozenset = frozenset()) -> dict:
    """Orchestrator (metadata.dart:638-743).  One shared pre-order walk
    (_MetaWalk) feeds every selector and extractor below, so the tree is
    scanned once instead of once per selector."""
    walk = _MetaWalk(tree)
    meta = examine_meta(tree)
    if meta["author"] is not None and " " not in meta["author"]:
        meta["author"] = None
    try:
        meta = extract_meta_json(walk.buckets["script"], meta)
    except Exception:
        pass
    if meta["title"] is None:
        meta["title"] = extract_title(tree, walk)
    blocked = {b.lower() for b in author_blacklist}
    meta["author"] = _drop_blacklisted(meta["author"], blocked)
    if meta["author"] is None:
        meta["author"] = _drop_blacklisted(
            extract_author(walk.buckets), blocked)
    if meta["url"] is None:
        meta["url"] = extract_url(tree, default_url)
    if meta["url"] is not None:
        meta["hostname"] = extract_domain(meta["url"])
    meta["date"] = find_date(tree, walk)
    if meta["sitename"] is None:
        meta["sitename"] = extract_sitename(tree)
    if meta["sitename"] is not None:
        meta["sitename"] = re.sub(r"^@", "", meta["sitename"])
        if meta["sitename"] and "." not in meta["sitename"] \
                and not meta["sitename"][0].isupper():
            meta["sitename"] = meta["sitename"].title()
    elif meta["url"]:
        m = META_URL_RE.match(meta["url"])
        if m:
            meta["sitename"] = m.group(1)
    if not meta["categories"] or not meta["tags"]:
        cat_links, tag_links = select_cats_tags_links(walk.buckets)
        if not meta["categories"]:
            meta["categories"] = extract_catstags("category", tree, cat_links)
        if not meta["tags"]:
            meta["tags"] = extract_catstags("tag", tree, tag_links)
    meta["license"] = extract_license(walk)
    return _clean_and_trim(meta)
