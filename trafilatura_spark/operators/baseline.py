"""Baseline / last-resort extraction tiers.

Re-expression of /root/reference/lib/src/baseline.dart:14-175.  Tiered
short-circuit cascade (the reference's cost-based plan choice,
SURVEY.md §4.1): JSON-LD articleBody → <article> text → distinct
paragraph scrape → whole-body text walk.
"""

from __future__ import annotations

import json

from ..dom import Node, get_body, parse_html
from ..functions.textutils import trim
from .selectors import select_basic_clean_elements


def basic_cleaning(tree: Node) -> Node:
    """Remove aside/footer/script/style (baseline.dart:14-20)."""
    for elem in select_basic_clean_elements(tree):
        if elem.parent is not None:
            elem.drop_tree()
    return tree


def _new_p(text: str) -> Node:
    p = Node("p")
    p.text = text
    return p


def baseline(tree: Node) -> tuple[Node, str, int]:
    """Tiered fallback extraction (baseline.dart:25-147)."""
    postbody = Node("body")
    if tree is None:
        return postbody, "", 0

    # tier 1: JSON-LD articleBody (baseline.dart:35-68)
    temp_text = ""
    for elem in tree.iterdesc("script"):
        if elem.attrs.get("type") != "application/ld+json":
            continue
        script_text = elem.text_content()
        if "articleBody" not in script_text:
            continue
        try:
            data = json.loads(script_text)
        except (ValueError, TypeError):
            continue
        json_body = data.get("articleBody") if isinstance(data, dict) else None
        if json_body and isinstance(json_body, str):
            if "<p>" in json_body:
                parsed = parse_html(json_body)
                text = trim(get_body(parsed).text_content())
            else:
                text = trim(json_body)
            postbody.append(_new_p(text))
            temp_text = text if not temp_text else f"{temp_text} {text}"
    if len(temp_text) > 100:
        return postbody, temp_text, len(temp_text)

    basic_cleaning(tree)

    # tier 2: <article> text (baseline.dart:74-87)
    temp_text = ""
    postbody = Node("body")
    for article in tree.iterdesc("article"):
        text = trim(article.text_content())
        if len(text) > 100:
            postbody.append(_new_p(text))
            temp_text = text if not temp_text else f"{temp_text} {text}"
    if postbody.children:
        return postbody, temp_text, len(temp_text)

    # tier 3: distinct paragraph-ish scrape (baseline.dart:90-109).
    # TAG-BY-TAG, not document order: the reference exhausts all
    # blockquotes, then all codes, then all p, … — span order must match.
    results: set[str] = set()
    temp_text = ""
    postbody = Node("body")
    for tag in ("blockquote", "code", "p", "pre", "q", "quote"):
        for elem in tree.iterdesc(tag):
            entry = trim(elem.text_content())
            if entry not in results:
                postbody.append(_new_p(entry))
                temp_text = entry if not temp_text else f"{temp_text} {entry}"
                results.add(entry)
    if len(temp_text) > 100:
        return postbody, temp_text, len(temp_text)

    # tier 4: whole-body text-node walk (baseline.dart:111-138)
    postbody = Node("body")
    body = get_body(tree)
    pieces = [t for t in (trim(piece) for piece in body.itertext()) if t]
    joined = "\n".join(pieces)
    postbody.append(_new_p(joined))
    return postbody, joined, len(joined)


def html2txt(tree: Node) -> str:
    """Whole-page text after the basic clean (baseline.dart:155-175)."""
    if tree is None:
        return ""
    body = get_body(tree)
    for elem in select_basic_clean_elements(body):
        if elem.parent is not None:
            elem.drop_tree()
    return trim(body.text_content())
