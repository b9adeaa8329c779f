"""Tree cleaning and HTML→internal-vocabulary tag conversion.

Re-expression of /root/reference/lib/src/htmlprocessing.dart:41-559.
These run inside the Arrow-batched UDF; node-level deletes/strips are
the reference's equivalent of predicate pushdown (SURVEY.md §4.1) —
they shrink all later scans.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlparse

from .. import dom as _dom
from ..dom import Node, strip_tags
from ..settings import (
    CODE_INDICATORS,
    CUT_EMPTY_ELEMS,
    MANUALLY_CLEANED,
    MANUALLY_STRIPPED,
    PRESERVE_IMG_CLEANING,
    REND_TAG_MAPPING,
    Options,
)

_HLJS_RE = re.compile(r"^hljs")


def tree_cleaning(tree: Node, options: Options) -> Node:
    """Delete/strip unwanted tags (htmlprocessing.dart:41-98)."""
    cleaning_list = list(MANUALLY_CLEANED)
    stripping_list = list(MANUALLY_STRIPPED)

    if not options.tables:
        cleaning_list += ["table", "td", "th", "tr"]
    else:
        # figure-containing-table fix (htmlprocessing.dart:50-59)
        for elem in tree.find_all("figure"):
            if elem.find("table") is not None:
                elem.tag = "div"

    if options.images:
        cleaning_list = [e for e in cleaning_list if e not in PRESERVE_IMG_CLEANING]
        stripping_list.remove("img")

    strip_tags(tree, *stripping_list)

    if options.focus == "recall" and tree.find("p") is not None:
        backup = tree.copy()
        for elem in tree.find_all(*cleaning_list):
            if elem.parent is not None:
                elem.drop_tree()
        if tree.find("p") is None:
            # cleaning nuked all <p> — restore (htmlprocessing.dart:82-88)
            tree.children = backup.children
            for c in tree.children:
                c.parent = tree
            tree.text = backup.text
    else:
        for elem in tree.find_all(*cleaning_list):
            if elem.parent is not None:
                elem.drop_tree()

    return prune_html(tree, options.focus)


def clean_copy(tree: Node, options: Options) -> Node:
    """``tree_cleaning(tree.copy(), options)`` in ONE walk, without ever
    materializing the subtrees cleaning would delete.  ``tree`` is left
    untouched (it stays the pristine body for the fallback suppliers).

    Semantics are sequential-exact (differential-gated against the
    two-step form over the full reference corpus + option matrix):

    - figure→div retag happens before membership checks, so a
      figure-containing-table escapes the delete list exactly as in
      htmlprocessing.dart:50-59;
    - STRIP membership is checked before DELETE: the strip pass runs
      first in the sequential form, so a tag in both lists (e.g. ``ins``)
      is stripped, not deleted;
    - deleted nodes merge their tail into the preceding text position
      (drop_tree keep_tail=True); stripped nodes merge text before and
      tail after their promoted children;
    - the empties prune stays a separate second pass over the BUILT tree
      (already small): its semantics are cross-pass — a deleted node's
      tail first merges into a preceding sibling, and if that sibling is
      itself empty the precision prune discards the merged text with it,
      which an interleaved single-pass check cannot reproduce.

    focus="recall" falls back to the sequential form: its all-<p>-nuked
    rollback needs the pre-delete tree (htmlprocessing.dart:82-88).
    """
    if options.focus == "recall":
        return tree_cleaning(tree.copy(), options)

    delete_set = set(MANUALLY_CLEANED)
    strip_set = set(MANUALLY_STRIPPED)
    retag_figures = options.tables
    if not options.tables:
        delete_set.update(("table", "td", "th", "tr"))
    if options.images:
        delete_set.difference_update(PRESERVE_IMG_CLEANING)
        strip_set.discard("img")
    if _dom._CCLEANCOPY is not None:
        # C emit walk (value-exact differential: tests/test_chtml.py);
        # fully iterative, so no RecursionError guard needed
        return prune_html(
            _dom._CCLEANCOPY(tree, strip_set, delete_set, retag_figures),
            options.focus)
    new = Node.__new__
    root = new(Node)
    root.tag = tree.tag
    root.attrs = dict(tree.attrs) if tree.attrs else {}
    root.children = []
    root.parent = None
    root.text = tree.text
    root.tail = tree.tail

    def sink(dst: Node, s: str) -> None:
        if s:
            ch = dst.children
            if ch:
                ch[-1].tail += s
            else:
                dst.text += s

    # one stack entry per node WITH children (mirrors Node.copy); leaves
    # are handled inline.  Deferring a copied child's subtree via the
    # stack is safe for text order: sinks at a level only touch that
    # level's last-attached child's tail, which is final once appended.
    # Recursion happens only through nested strip-set tags (depth = the
    # strip-nesting chain, tiny on real markup; adversarial nesting falls
    # back to the sequential form via the RecursionError guard below).
    stack: list[tuple[Node, Node]] = []
    push = stack.append

    def emit_children(src: Node, dst: Node) -> None:
        append = dst.children.append
        for child in src.children:
            tag = child.tag
            if tag in strip_set:
                sink(dst, child.text)
                emit_children(child, dst)
                sink(dst, child.tail)
                continue
            if retag_figures and tag == "figure" and \
                    child.find("table") is not None:
                tag = "div"
            if tag in delete_set:
                sink(dst, child.tail)
                continue
            c = new(Node)
            c.tag = tag
            c.attrs = dict(child.attrs) if child.attrs else {}
            c.children = []
            c.parent = dst
            c.text = child.text
            c.tail = child.tail
            append(c)
            if child.children:
                push((child, c))

    try:
        push((tree, root))
        pop = stack.pop
        while stack:
            src, dst = pop()
            emit_children(src, dst)
    except RecursionError:
        return tree_cleaning(tree.copy(), options)
    return prune_html(root, options.focus)


def prune_html(tree: Node, focus: str = "balanced") -> Node:
    """Delete empty elements (htmlprocessing.dart:117-137)."""
    keep_tails = focus != "precision"
    for elem in tree.find_all(*CUT_EMPTY_ELEMS):
        if elem.parent is not None and not elem.children and not elem.text.strip():
            elem.drop_tree(keep_tail=keep_tails)
    return tree


def prune_unwanted_nodes(tree: Node, node_selector) -> Node:
    """Apply a selector and delete its matches (htmlprocessing.dart:140-165).
    The reference's optional text-loss rollback (``withBackup``) is not
    ported: the one caller runs without it."""
    for subtree in node_selector(tree):
        if subtree.parent is not None:
            subtree.drop_tree()
    return tree


def _is_code_block(text: str) -> bool:
    """htmlprocessing.dart:429-439."""
    return bool(text) and any(ind in text for ind in CODE_INDICATORS)


def _get_base_url(url: str) -> str | None:
    try:
        u = urlparse(url)
        if not u.scheme or not u.netloc:
            return None
        return f"{u.scheme}://{u.netloc}"
    except ValueError:
        return None


def convert_tags(tree: Node, options: Options, url: str | None = None) -> Node:
    """Simplify markup into the internal vocabulary
    (htmlprocessing.dart:506-559).

    Unlike the reference (which records ``_newtag`` attributes), we
    rename tags in place — equivalent observable behavior with one tree
    pass less.
    """
    # links
    if not options.links:
        keep_parents = {"div", "li", "p"} | ({"table", "td", "th"} if options.tables else set())
        for elem in tree.find_all("a"):
            parent = elem.parent
            inside = False
            while parent is not None:
                if parent.tag in keep_parents:
                    inside = True
                    break
                parent = parent.parent
            if inside:
                elem.tag = "ref"
                elem.attrs = {}
            elif elem.parent is not None:
                elem.strip_self()
    else:
        base_url = _get_base_url(url) if url else None
        for elem in tree.find_all("a", "ref"):
            target = elem.attrs.get("href")
            elem.tag = "ref"
            elem.attrs = {}
            if target:
                if base_url and not target.startswith("http"):
                    target = urljoin(base_url, target)
                elem.attrs["target"] = target

    # formatting (htmlprocessing.dart:528-542)
    if options.formatting:
        for elem in tree.find_all(*REND_TAG_MAPPING):
            rend = REND_TAG_MAPPING[elem.tag]
            elem.attrs = {"rend": rend}
            elem.tag = "hi"
    else:
        strip_tags(tree, *REND_TAG_MAPPING)

    # structural conversions (htmlprocessing.dart:468-487)
    for elem in tree.find_all("ul", "ol", "dl"):
        elem.attrs["rend"] = elem.tag
        elem.tag = "list"
        i = 1
        for sub in elem.iterdesc("dd", "dt", "li"):
            if sub.tag in ("dd", "dt"):
                sub.attrs["rend"] = f"{sub.tag}-{i}"
                if sub.tag == "dd":
                    i += 1
            sub.tag = "item"
    for elem in tree.iterdesc("h1", "h2", "h3", "h4", "h5", "h6"):
        level = elem.tag
        elem.attrs = {"rend": level}
        elem.tag = "head"
    for elem in tree.iterdesc("br", "hr"):
        elem.tag = "lb"
    for elem in tree.iterdesc("blockquote", "pre", "q"):
        code_flag = False
        if elem.tag == "pre":
            if len(elem.children) == 1 and elem.children[0].tag == "span":
                code_flag = True
            hljs = [s for s in elem.iterdesc("span") if _HLJS_RE.match(s.class_name or "")]
            if hljs:
                code_flag = True
                for s in hljs:
                    s.attrs = {}
            if _is_code_block(elem.text_content()):
                code_flag = True
        elem.tag = "code" if code_flag else "quote"
    for elem in tree.iterdesc("del", "s", "strike"):
        elem.tag = "del"
        elem.attrs["rend"] = "overstrike"
    for elem in tree.find_all("details"):
        elem.tag = "div"
        for sub in elem.iterdesc("summary"):
            sub.tag = "head"

    # images (htmlprocessing.dart:552-556)
    if options.images:
        for elem in tree.iterdesc("img"):
            elem.tag = "graphic"

    return tree
