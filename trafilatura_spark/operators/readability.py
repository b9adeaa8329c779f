"""Readability-style scoring fallback.

Fresh implementation of the public arc90/readability-lxml algorithm
(Apache-2.0 heritage), matching the behavior inventoried from
/root/reference/lib/src/readability_lxml.dart:97-410: score candidate
parents of text-bearing paragraphs, pick the best, assemble the article
from qualifying siblings, then feature-count sanitization.

The paragraph-score aggregation is conceptually a
``groupBy(parent).agg(sum(score))`` + top-1 (SURVEY.md §2.7) but runs
per-document inside the UDF.
"""

from __future__ import annotations

import re

from .. import dom as _dom
from ..dom import Node
from ..functions.textutils import trim

_DOT_SPACE = re.compile(r"\.( |$)")

DIV_SCORES = {"div", "article"}
BLOCK_SCORES = {"pre", "td", "blockquote"}
BAD_ELEM_SCORES = {"address", "ol", "ul", "dl", "dd", "dt", "li", "form", "aside"}
STRUCTURE_SCORES = {"h1", "h2", "h3", "h4", "h5", "h6", "th", "header", "footer", "nav"}
TEXT_CLEAN_ELEMS = ("p", "img", "li", "a", "embed", "input")

REGEXES = {
    "unlikely": re.compile(
        r"combx|comment|community|disqus|extra|foot|header|menu|remark|rss|shoutbox|"
        r"sidebar|sponsor|ad-break|agegate|pagination|pager|popup|tweet|twitter",
        re.I,
    ),
    "maybe": re.compile(r"and|article|body|column|main|shadow", re.I),
    "positive": re.compile(
        r"article|body|content|entry|hentry|main|page|pagination|post|text|blog|story",
        re.I,
    ),
    "negative": re.compile(
        r"button|combx|comment|com-|contact|figure|foot|footer|footnote|form|input|"
        r"masthead|media|meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|"
        r"shopping|tags|tool|widget",
        re.I,
    ),
    "div_to_p": re.compile(r"<(?:a|blockquote|dl|div|img|ol|p|pre|table|ul)", re.I),
    "video": re.compile(r"https?://(?:www\.)?(?:youtube|vimeo)\.com", re.I),
}

_FRAME_TAGS = {"body", "html"}
_LIST_TAGS = {"ol", "ul"}


def _text_length(elem: Node) -> int:
    return len(trim(elem.text_content()))


# -- one-pass trim-compatible text metrics (scoring hot path) -----------------
#
# _score_paragraphs needs len(trim(text_content())) and a comma count per
# <p>/<pre>/<td>, then a link density per CANDIDATE (parents/grandparents —
# big, heavily OVERLAPPING subtrees: a candidate near the root re-walks
# nearly the whole document).  len(trim(s)) is not a plain sum over child
# lengths — boundary whitespace between adjacent pieces collapses — but it
# IS a monoid over (collapsed_len, leading_ws, trailing_ws): concatenation
# adds the cores plus one separator iff the seam holds any whitespace.  One
# post-order pass therefore yields exact trim lengths for EVERY node, and
# comma/link totals ride the same pass (commas are not whitespace, so trim
# preserves them; link text per the iterdesc("a") contract is the sum of
# each anchor's own trimmed length, anchors-inside-anchors counted twice).

def _collect_metrics(root: Node) -> dict[int, tuple]:
    """id(node) -> (trim_len, lead_ws, trail_ws, comma_count,
    link_core_incl_self) for every node under and including ``root``,
    in one post-order pass.

    ``link_core_incl_self`` sums each descendant-or-self <a>'s own trimmed
    length; the _link_density contract (iterdesc excludes self) subtracts
    the node's own contribution at the use site."""
    if _dom._CMETRICS is not None:
        # one C post-order fold, value-exact vs the loop below
        # (differential: tests/test_chtml.py)
        return _dom._CMETRICS(root)
    order = [root]
    i = 0
    while i < len(order):
        order.extend(order[i].children)
        i += 1
    out: dict[int, tuple] = {}
    for node in reversed(order):
        # fold self.text, then per child: child summary + child tail —
        # the (collapsed_len, leading_ws, trailing_ws) concatenation,
        # inlined (this loop runs once per DOM node; helper-call
        # overhead measurably dominates otherwise)
        t = node.text
        if t:
            parts = t.split()
            if parts:
                core = sum(map(len, parts)) + len(parts) - 1
                lead = t[0].isspace()
                trail = t[-1].isspace()
            else:
                core, lead, trail = 0, True, True
            commas = t.count(",")
        else:
            core = commas = 0
            lead = trail = False
        links = 0
        for ch in node.children:
            bc, bl, bt, cc, cl = out[id(ch)]
            commas += cc
            links += cl
            if bc:
                if core:
                    core += bc + (1 if (trail or bl) else 0)
                else:
                    lead = lead or bl
                    core = bc
                trail = bt
            elif bl:
                trail = True
                if not core:
                    lead = True
            tail = ch.tail
            if tail:
                parts = tail.split()
                if parts:
                    tc = sum(map(len, parts)) + len(parts) - 1
                    if core:
                        core += tc + (1 if (trail or tail[0].isspace())
                                      else 0)
                    else:
                        lead = lead or tail[0].isspace()
                        core = tc
                    trail = tail[-1].isspace()
                    commas += tail.count(",")
                else:
                    trail = True
                    if not core:
                        lead = True
        if node.tag == "a":
            links += core
        out[id(node)] = (core, lead, trail, commas, links)
    return out


def _link_density(elem: Node) -> float:
    total = _text_length(elem)
    if total == 0:
        return 0.0
    link_len = sum(_text_length(a) for a in elem.iterdesc("a"))
    return link_len / total


# innerHTML regex probe vocabulary (readability_lxml.dart:286-297): a div
# containing any of these stays a div; childless-of-these divs become <p>
_BLOCK_MARKUP = frozenset(
    ("a", "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul"))
_BLOCK_MARKUP_TUPLE = tuple(sorted(_BLOCK_MARKUP))


class ReadabilityDocument:
    """readability_lxml.dart:79-410."""

    def __init__(self, doc: Node, min_text_length: int = 25, retry_length: int = 250,
                 *, refetch):
        self.doc = doc
        self.min_text_length = min_text_length
        self.retry_length = retry_length
        # supplier of a fresh pristine copy of ``doc``: the (~10% of real
        # pages) non-ruthless retry re-fetches its input instead of every
        # document paying a defensive copy up front
        self._refetch = refetch
        # class/id strings repeat heavily within one page; regex verdicts
        # depend only on the string, so memoize per document
        self._cw_cache: dict[tuple, float] = {}

    def _strip_scripts(self, doc: Node) -> Node:
        for elem in doc.find_all("script", "style"):
            if elem.parent is not None:
                elem.drop_tree()
        return doc

    def summary(self) -> Node | None:
        self._strip_scripts(self.doc)
        ruthless = True

        def restore() -> Node:
            # the retry path needs the pre-ruthless document back
            return self._strip_scripts(self._refetch())

        while True:
            if ruthless:
                self._remove_unlikely_candidates()
            self._transform_misused_divs()
            candidates = self._score_paragraphs()
            best = self._select_best_candidate(candidates)
            if best is not None:
                article = self._get_article(candidates, best)
            else:
                if ruthless:
                    ruthless = False
                    self.doc = restore()
                    continue
                body = self.doc.find("body")
                article = body if body is not None else self.doc
            cleaned = self._sanitize(article, candidates)
            article_length = len(cleaned.text_content()) if cleaned is not None else 0
            if ruthless and article_length < self.retry_length:
                ruthless = False
                self.doc = restore()
                continue
            return cleaned

    def _get_article(self, candidates: dict, best) -> Node:
        """readability_lxml.dart:139-169."""
        threshold = max(10.0, best[0] * 0.2)
        output = Node("div")
        parent = best[1].parent
        siblings = parent.children if parent is not None else [best[1]]
        for sibling in siblings:
            append = False
            if sibling is best[1]:
                append = True
            elif id(sibling) in candidates and candidates[id(sibling)][0] >= threshold:
                append = True
            elif sibling.tag == "p":
                ld = _link_density(sibling)
                content = sibling.text_content()
                n = len(content)
                if (n > 80 and ld < 0.25) or (n <= 80 and ld == 0 and _DOT_SPACE.search(content)):
                    append = True
            if append:
                output.append(sibling.copy())
        return output

    def _select_best_candidate(self, candidates: dict):
        if not candidates:
            return None
        return max(candidates.values(), key=lambda c: c[0])

    def _score_paragraphs(self) -> dict:
        """readability_lxml.dart:194-229 — group scores onto parents.

        Text lengths, comma counts and link densities come from ONE
        post-order metrics pass (_collect_metrics) instead of a subtree
        walk per paragraph plus a near-full-document walk per candidate
        (candidates are parents/grandparents whose subtrees overlap):
        len(trim(·)) is computed via the whitespace-collapse monoid, so
        the values are exactly the reference's (differential-gated over
        all 1,033 reference pages, byte-identical spans)."""
        metrics = _collect_metrics(self.doc)
        candidates: dict[int, list] = {}
        for elem in self.doc.iterdesc("p", "pre", "td"):
            parent = elem.parent
            if parent is None:
                continue
            grandparent = parent.parent
            text_len, _, _, commas, _ = metrics[id(elem)]
            if text_len < self.min_text_length:
                continue
            for node in (parent, grandparent):
                if node is not None and id(node) not in candidates:
                    candidates[id(node)] = self._score_node(node)
            # len(text.split(",")) == commas + 1; trim preserves commas
            score = 1 + (commas + 1) + min(text_len / 100, 3)
            candidates[id(parent)][0] += score
            if grandparent is not None and id(grandparent) in candidates:
                candidates[id(grandparent)][0] += score / 2
        for cand in candidates.values():
            node = cand[1]
            m = metrics.get(id(node))
            if m is None:
                # node lies OUTSIDE the metrics map: when self.doc is
                # still attached to a larger tree, a p whose parent is
                # self.doc promotes self.doc.parent to candidate — the
                # pre-rewrite per-candidate walk scored any node, so
                # fall back to the direct walk rather than KeyError
                # (which try_readability would silently swallow into an
                # empty readability tier)
                cand[0] *= 1 - _link_density(node)
                continue
            total, _, _, _, links = m
            if node.tag == "a":
                links -= total  # iterdesc("a") excludes self
            cand[0] *= 1 - ((links / total) if total else 0.0)
        return candidates

    def _class_weight(self, elem: Node) -> float:
        key = (elem.attrs.get("class"), elem.attrs.get("id"))
        cached = self._cw_cache.get(key)
        if cached is not None:
            return cached
        weight = 0.0
        for attribute in key:
            if not attribute:
                continue
            if REGEXES["negative"].search(attribute):
                weight -= 25
            if REGEXES["positive"].search(attribute):
                weight += 25
        self._cw_cache[key] = weight
        return weight

    def _score_node(self, elem: Node) -> list:
        score = self._class_weight(elem)
        name = elem.tag
        if name in DIV_SCORES:
            score += 5
        elif name in BLOCK_SCORES:
            score += 3
        elif name in BAD_ELEM_SCORES:
            score -= 3
        elif name in STRUCTURE_SCORES:
            score -= 5
        return [score, elem]

    def _remove_unlikely_candidates(self) -> None:
        # one pre-order pass; a dropped node's subtree is skipped outright
        # (the snapshot version re-tested detached descendants: pure waste —
        # drops inside a detached subtree can't affect the document).
        # Verdicts are memoized per (class, id): nav/footer class strings
        # repeat dozens of times on real pages.
        unlikely = REGEXES["unlikely"].search
        maybe = REGEXES["maybe"].search
        if _dom._CUNLIKELY is not None:
            # C walk collects the drops (verdict misses come back through
            # `judge`, so the regexes stay the one source of truth);
            # dropping the returned disjoint subtrees in document order
            # is equivalent to dropping in-walk
            def judge(key: tuple) -> bool:
                attrs = f"{key[0]} {key[1]}".strip()
                return len(attrs) >= 2 and bool(unlikely(attrs)) \
                    and not maybe(attrs)

            for elem in _dom._CUNLIKELY(self.doc, {}, judge,
                                        ("body", "html")):
                elem.drop_tree()
            return
        verdicts: dict[tuple, bool] = {}
        stack = list(reversed(self.doc.children))
        pop = stack.pop
        extend = stack.extend
        while stack:
            elem = pop()
            key = (elem.attrs.get("class", ""), elem.attrs.get("id", ""))
            if key[0] or key[1]:
                drop = verdicts.get(key)
                if drop is None:
                    attrs = f"{key[0]} {key[1]}".strip()
                    drop = len(attrs) >= 2 and bool(unlikely(attrs)) \
                        and not maybe(attrs)
                    verdicts[key] = drop
                if drop and elem.tag not in _FRAME_TAGS:
                    elem.drop_tree()
                    continue
            if elem.children:
                extend(reversed(elem.children))

    def _transform_misused_divs(self) -> None:
        # Mark block-markup-containing divs in ONE amortized pass instead of
        # a full-subtree probe per div (O(n^2) on nested layout divs): every
        # block-vocabulary node walks its ancestor chain marking unmarked
        # divs, stopping at the first already-marked div (whose div
        # ancestors were marked with it).  Renames can't change membership —
        # div and p are both in the probe vocabulary — so doc order is free.
        if _dom._CDIVS is not None:
            # C passes: collect no-block-markup divs (pre-rename), rename
            # in Python, then collect brs-under-(still-)div post-rename
            for elem in _dom._CDIVS(self.doc, _BLOCK_MARKUP_TUPLE):
                elem.tag = "p"
            for br in _dom._CBRS(self.doc):
                if br.parent is not None:
                    br.drop_tree()
            return
        has_block: set[int] = set()
        add_marked = has_block.add
        for node in self.doc.iterdesc(*_BLOCK_MARKUP):
            anc = node.parent
            while anc is not None:
                if anc.tag == "div":
                    i = id(anc)
                    if i in has_block:
                        break
                    add_marked(i)
                anc = anc.parent
        for elem in self.doc.find_all("div"):
            if id(elem) not in has_block:
                elem.tag = "p"
        # drop every <br> under a (still-)div, in document order — one walk
        # tracking div depth replaces the per-div find_all re-scan
        brs: list[Node] = []
        stack = [(c, 0) for c in reversed(self.doc.children)]
        pop = stack.pop
        while stack:
            node, depth = pop()
            tag = node.tag
            if tag == "br":
                if depth:
                    brs.append(node)
            elif node.children:
                d2 = depth + 1 if tag == "div" else depth
                for c in reversed(node.children):
                    stack.append((c, d2))
        for br in brs:
            if br.parent is not None:
                br.drop_tree()

    def _sanitize(self, node: Node, candidates: dict) -> Node | None:
        """readability_lxml.dart:317-410 feature-count cleaning."""
        for header in node.find_all("h1", "h2", "h3", "h4", "h5", "h6"):
            if header.parent is not None and (
                self._class_weight(header) < 0 or _link_density(header) > 0.33
            ):
                header.drop_tree()
        for elem in node.find_all("form", "textarea"):
            if elem.parent is not None:
                elem.drop_tree()
        for elem in node.find_all("iframe"):
            if elem.parent is None:
                continue
            if REGEXES["video"].search(elem.attrs.get("src", "")):
                elem.text = "VIDEO"
            else:
                elem.drop_tree()

        allowed: set[int] = set()
        targets = node.find_all("table", "ul", "div", "aside", "header",
                                     "footer", "section")
        for elem in reversed(targets):
            if id(elem) in allowed or elem.parent is None:
                continue
            weight = self._class_weight(elem)
            score = candidates[id(elem)][0] if id(elem) in candidates else 0
            if weight + score < 0:
                elem.drop_tree()
                continue
            content = elem.text_content()
            if content.count(",") + 1 >= 10:
                continue
            # one subtree walk for all feature counts + link text (the dict
            # comprehension re-scanned the subtree once per kind, and the
            # length/density helpers twice more)
            counts = dict.fromkeys(TEXT_CLEAN_ELEMS, 0)
            link_len = 0
            for d in elem.iterdesc():
                t = d.tag
                if t in counts:
                    counts[t] += 1
                    if t == "input":
                        if d.attrs.get("type") == "hidden":
                            counts["input"] -= 1
                    elif t == "a":
                        link_len += len(trim(d.text_content()))
            counts["li"] -= 100
            content_length = len(trim(content))
            link_density = (link_len / content_length) if content_length else 0.0
            to_remove = True
            if counts["p"] > 0 and counts["img"] > 1 + counts["p"] * 1.3:
                pass
            elif counts["li"] > counts["p"] and elem.tag not in _LIST_TAGS:
                pass
            elif counts["input"] > counts["p"] / 3:
                pass
            elif content_length < self.min_text_length and counts["img"] == 0:
                pass
            elif content_length < self.min_text_length and counts["img"] > 2:
                pass
            elif weight < 25 and link_density > 0.2:
                pass
            elif weight >= 25 and link_density > 0.5:
                pass
            elif (counts["embed"] == 1 and content_length < 75) or counts["embed"] > 1:
                pass
            elif content_length == 0:
                sibling = elem.next_sibling()
                sib_len = 0
                while sibling is not None and sib_len == 0:
                    sib_len = _text_length(sibling)
                    sibling = sibling.next_sibling()
                if sib_len > 1000:
                    to_remove = False
                    for child in elem.iterdesc("table", "ul", "div", "section"):
                        allowed.add(id(child))
            else:
                to_remove = False
            if to_remove:
                elem.drop_tree()
        return node


def try_readability(htmlinput: Node, refetch) -> Node:
    """external.dart:25-33.  ``refetch`` supplies a fresh pristine copy
    of ``htmlinput`` for the non-ruthless retry."""
    try:
        doc = ReadabilityDocument(htmlinput, min_text_length=25,
                                  retry_length=250, refetch=refetch)
        return doc.summary() or Node("div")
    except Exception:
        return Node("div")
