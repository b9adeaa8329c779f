"""Main content extraction cascade.

Re-expression of /root/reference/lib/src/main_extractor.dart on the
converted tree (tags already renamed to the internal vocabulary by
:func:`..operators.cleaning.convert_tags`).

Documented deviations from the Dart port (pinned by our fixtures):

* The Dart port visits every descendant via ``querySelectorAll('*')``
  and can emit the same text twice (a long nested ``<div>`` re-emits
  the paragraphs it contains, main_extractor.dart:586-591 +
  317-326).  We walk pre-order and *consume* the subtree of every
  handled element, like upstream trafilatura's ``done`` marking.
* ``handleParagraphs`` in the Dart port drops non-link text when links
  are enabled (main_extractor.dart:230-249); we preserve mixed
  text/ref content in document order.
* The comment tag catalog gains ``item`` because our converted tree
  renames ``li`` → ``item`` before comment extraction.
"""

from __future__ import annotations

import re

from ..dom import Node, strip_elements, strip_tags
from ..functions.textutils import text_chars_test, textfilter, trim
from ..settings import Options, TAG_CATALOG_COMMENTS
from .linkdensity import calculate_link_density, delete_high_link_density
from .selectors import select_body_elements, select_comment_elements, select_elements_to_discard

NOT_AT_THE_END = {"head", "fw"}

_W3_CODE = re.compile(r"\bw3-code\b")


def _class_token(elem: Node, token: str) -> bool:
    return token in elem.class_name.split()


# prune_unwanted_sections token sets (main_extractor.dart: teaser/promo
# and the precision extras) — tested as one isdisjoint per element
_PROMO_TOKENS = frozenset(("teaser", "promo", "advertisement", "sponsored"))
_PRECISION_TOKENS = frozenset(("related", "sidebar", "widget", "share"))


def _new(tag: str, text: str = "", attrs: dict | None = None) -> Node:
    node = Node(tag, attrs or {})
    node.text = text
    return node


def _norm_keep_bounds(s: str) -> str:
    """Whitespace-collapse preserving word-boundary spaces at the edges —
    inline-content analog of ``trim`` (utils.dart:352-358)."""
    if not s:
        return ""
    core = trim(s)
    lead = " " if s[0].isspace() else ""
    trail = " " if s[-1].isspace() else ""
    if not core:
        return " " if (lead or trail) else ""
    return f"{lead}{core}{trail}"


def _join_ws(a: str, b: str) -> str:
    """Concatenate inline pieces without doubling boundary spaces."""
    if a.endswith(" ") and b.startswith(" "):
        return a + b.lstrip()
    return a + b


# -- per-tag handlers (main_extractor.dart:76-343) ---------------------------

def handle_titles(element: Node) -> Node | None:
    text = trim(element.text_content())
    if not text_chars_test(text):
        return None
    attrs = {}
    rend = element.attrs.get("rend")
    if rend:
        attrs["rend"] = rend
    return _new("head", text, attrs)


def handle_formatting(element: Node) -> Node | None:
    text = trim(element.text_content())
    if not text_chars_test(text):
        return None
    attrs = {}
    rend = element.attrs.get("rend")
    if rend:
        attrs["rend"] = rend
    return _new(element.tag if element.tag == "del" else "hi", text, attrs)


def handle_lists(element: Node) -> Node | None:
    items = element.find_all("item")
    if not items:
        return None
    out = _new("list")
    for item in items:
        text = trim(item.text_content())
        if text_chars_test(text):
            child = _new("item", text)
            rend = item.attrs.get("rend")
            if rend:
                child.attrs["rend"] = rend
            out.append(child)
    return out if out.children else None


def handle_quotes(element: Node) -> Node | None:
    full = element.text_content()
    if not text_chars_test(full):
        return None
    out = _new("quote")
    paragraphs = element.find_all("p")
    if paragraphs:
        for p in paragraphs:
            ptext = trim(p.text_content())
            if text_chars_test(ptext):
                out.append(_new("p", ptext))
    else:
        out.text = full.strip()
    return out if (out.children or text_chars_test(out.text)) else None


def handle_code_blocks(element: Node) -> Node | None:
    text = element.text_content()
    if not text_chars_test(text):
        return None
    out = _new("code", text)
    lang = element.attrs.get("lang")
    if not lang:
        m = re.search(r"language-(\w+)", element.class_name)
        if m:
            lang = m.group(1)
    if lang:
        out.attrs["lang"] = lang
    return out


def handle_paragraphs(element: Node, potential_tags: set, options: Options) -> Node | None:
    text = trim(element.text_content())
    if len(text) < options.min_extracted_size // 4:
        return None
    if not text_chars_test(text):
        return None
    keep = {t for t in ("ref", "hi", "del", "code") if t in potential_tags}
    if not options.links:
        keep.discard("ref")
    out = _new("p")
    if not keep or not any(c.tag in keep for c in element.iterdesc()):
        out.text = text
        return out
    # mixed inline content preserved in document order (deviation: the Dart
    # port drops non-link text when links are on, main_extractor.dart:230-249)
    out.text = _norm_keep_bounds(element.text).lstrip()
    last = None

    def _append_flat(piece: str) -> None:
        nonlocal last
        if last is not None:
            last.tail = _join_ws(last.tail, piece)
        else:
            out.text = _join_ws(out.text, piece)

    for child in element.children:
        if child.tag in keep:
            kept = _new(child.tag, trim(child.text_content()), dict(child.attrs))
            kept.tail = _norm_keep_bounds(child.tail)
            out.append(kept)
            last = kept
        else:
            _append_flat(_norm_keep_bounds(child.text_content()))
            _append_flat(_norm_keep_bounds(child.tail))
    if last is not None:
        last.tail = last.tail.rstrip()
    else:
        out.text = out.text.rstrip()
    if not out.children and not text_chars_test(out.text):
        out.text = text
    return out


def handle_table(element: Node, options: Options) -> Node | None:
    if not options.tables:
        return None
    out = _new("table")
    for row in element.find_all("tr"):
        row_elem = _new("row")
        for cell in row.find_all("td", "th", "cell"):
            cell_elem = _new("cell", trim(cell.text_content()))
            if cell.tag == "th" or cell.attrs.get("role") == "head":
                cell_elem.attrs["role"] = "head"
            row_elem.append(cell_elem)
        if row_elem.children:
            out.append(row_elem)
    return out if out.children else None


def handle_image(element: Node, options: Options) -> Node | None:
    if not options.images:
        return None
    src = element.attrs.get("src") or element.attrs.get("data-src") or ""
    if not src:
        for key, value in element.attrs.items():
            if key.startswith("data-src") and value:
                src = value
                break
    if not src:
        return None
    out = _new("graphic", attrs={"src": src})
    for attr in ("alt", "title"):
        val = element.attrs.get(attr)
        if val:
            out.attrs[attr] = val
    return out


def handle_other_elements(element: Node, potential_tags: set, options: Options) -> Node | None:
    """div rescue + span→hi (main_extractor.dart:317-343).  Only fires for
    divs without already-handled block content (see module docstring)."""
    if element.tag == "div" and "div" in potential_tags:
        if element.find("p", "head", "list", "quote", "code", "table") is None:
            text = trim(element.text_content())
            if text_chars_test(text) and len(text) >= options.min_extracted_size // 2:
                return _new("p", text)
        return None
    if element.tag == "span" and "span" in potential_tags:
        text = trim(element.text_content())
        if text_chars_test(text):
            return _new("hi", text)
    return None


def handle_text_elem(element: Node, potential_tags: set, options: Options) -> Node | None:
    """Dispatch by (converted) tag (main_extractor.dart:346-396)."""
    tag = element.tag
    if tag == "list":
        return handle_lists(element)
    if tag == "code":
        return handle_code_blocks(element)
    if tag == "quote":
        return handle_quotes(element)
    if tag == "head":
        return handle_titles(element)
    if tag == "p":
        return handle_paragraphs(element, potential_tags, options)
    if tag == "lb":
        return None
    if tag in ("hi", "del"):
        return handle_formatting(element)
    if tag == "table" and "table" in potential_tags:
        return handle_table(element, options)
    if tag == "graphic" and "graphic" in potential_tags:
        return handle_image(element, options)
    return handle_other_elements(element, potential_tags, options)


# -- section pruning (main_extractor.dart:440-508) ---------------------------

def prune_unwanted_sections(tree: Node, potential_tags: set, options: Options) -> Node:
    favor_precision = options.focus == "precision"

    for elem in select_elements_to_discard(tree):
        if elem.parent is not None:
            elem.drop_tree()

    if "graphic" not in potential_tags:
        for elem in tree.find_all("img", "graphic", "figure", "picture"):
            if elem.parent is not None:
                elem.drop_tree()

    if options.focus != "recall":
        # one walk with an any-token test replaces the per-token snapshot
        # loops (4 full walks; 8 with precision): final-tree-equivalent
        # because drops remove whole subtrees — a later-token match inside
        # an already-dropped fragment was a no-op in the sequential form
        for elem in tree.find_all():
            if elem.parent is not None and elem.attrs.get("class") and \
                    not _PROMO_TOKENS.isdisjoint(elem.class_name.split()):
                elem.drop_tree()
        if favor_precision:
            for elem in tree.find_all("aside"):
                if elem.parent is not None:
                    elem.drop_tree()
            for elem in tree.find_all():
                if elem.parent is not None and elem.attrs.get("class") and \
                        not _PRECISION_TOKENS.isdisjoint(elem.class_name.split()):
                    elem.drop_tree()

    for _ in range(2):
        delete_high_link_density(tree, "div", favor_precision)
        delete_high_link_density(tree, "list", favor_precision)
        delete_high_link_density(tree, "p", favor_precision)

    if "table" in potential_tags or favor_precision:
        for elem in tree.find_all("table"):
            if elem.parent is not None and calculate_link_density(elem) > 0.5:
                elem.drop_tree()

    if favor_precision:
        while tree.children and tree.children[-1].tag == "head":
            tree.children[-1].drop_tree()
        delete_high_link_density(tree, "head", True)
        delete_high_link_density(tree, "quote", True)

    return tree


# -- cascade core (main_extractor.dart:536-629) ------------------------------

def _walk_and_emit(subtree: Node, result_body: Node, potential_tags: set, options: Options) -> None:
    """Pre-order walk; a handled element consumes its subtree."""
    stack = list(reversed(subtree.children))
    while stack:
        elem = stack.pop()
        processed = handle_text_elem(elem, potential_tags, options)
        if processed is not None:
            if processed.text or processed.children or processed.tag == "graphic":
                result_body.append(processed)
            continue
        if elem.tag in ("list", "quote", "code", "table", "graphic", "p",
                        "head", "hi", "del", "lb"):
            # handled-class element that produced nothing: consume anyway
            continue
        stack.extend(reversed(elem.children))


def _extract(tree: Node, options: Options) -> tuple[Node, str, set]:
    potential_tags = {"p", "head", "list", "quote", "code", "lb"}
    if options.tables:
        potential_tags.update({"table"})
    if options.images:
        potential_tags.add("graphic")
    if options.links:
        potential_tags.add("ref")
    if options.formatting:
        potential_tags.update({"hi", "del"})

    result_body = _new("body")
    for subtree in select_body_elements(tree):
        subtree = prune_unwanted_sections(subtree, potential_tags, options)
        if not subtree.children and not subtree.text.strip():
            continue
        paragraphs = subtree.find_all("p")
        p_text = "".join(p.text_content() for p in paragraphs)
        factor = 1 if options.focus == "precision" else 3
        if not paragraphs or len(p_text) < options.min_extracted_size * factor:
            potential_tags.add("div")
        if "ref" not in potential_tags:
            strip_tags(subtree, "ref")
        if "span" not in potential_tags:
            strip_tags(subtree, "span")
        _walk_and_emit(subtree, result_body, potential_tags, options)
        while result_body.children and result_body.children[-1].tag in NOT_AT_THE_END:
            result_body.children.pop()
        if len(result_body.children) > 1:
            break

    temp_text = trim(result_body.text_content())
    return result_body, temp_text, potential_tags


def recover_wild_text(tree: Node, result_body: Node, options: Options, potential_tags: set) -> Node:
    """Second-chance scan over the backup tree (main_extractor.dart:399-437)."""
    search_tags = ["quote", "code", "p", "table"]
    if options.focus == "recall":
        potential_tags.update({"div", "lb"})
        search_tags += ["div", "list"]
    search_tree = prune_unwanted_sections(tree, potential_tags, options)
    if "ref" not in potential_tags:
        strip_tags(search_tree, "a", "ref", "span")
    else:
        strip_tags(search_tree, "span")
    for elem in search_tree.iterdesc(*search_tags):
        processed = handle_text_elem(elem, potential_tags, options)
        if processed is not None and (processed.text or processed.children):
            result_body.append(processed)
    for elem in search_tree.iterdesc("div"):
        if _W3_CODE.search(elem.class_name):
            processed = handle_code_blocks(elem)
            if processed is not None:
                result_body.append(processed)
    return result_body


def extract_content(cleaned_tree: Node, options: Options,
                    backup_factory) -> tuple[Node, str, int]:
    """Cascade entry (main_extractor.dart:612-629).

    ``backup_factory`` rebuilds the pre-extraction tree on demand for
    the wild-text second chance, so the common success path pays no
    per-document full-tree copy (recovery fires only on short
    extractions).  ``cleaned_tree`` is consumed."""
    result_body, temp_text, potential_tags = _extract(cleaned_tree, options)
    if not result_body.children or len(temp_text) < options.min_extracted_size:
        result_body = recover_wild_text(backup_factory(), result_body,
                                        options, potential_tags)
        temp_text = trim(result_body.text_content())
    strip_elements(result_body, "done")
    strip_tags(result_body, "div")
    return result_body, temp_text, len(temp_text)


# -- comments (main_extractor.dart:632-692) ----------------------------------

_COMMENT_POTENTIAL = set(TAG_CATALOG_COMMENTS) | {"item"}


def process_comments_node(elem: Node, potential_tags: set) -> Node | None:
    if elem.tag in potential_tags:
        text = trim(elem.text_content())
        if text_chars_test(text) and not textfilter(text):
            return _new("p", text)
    return None


def extract_comments(tree: Node, options: Options) -> tuple[Node, str, int, Node]:
    comments_body = _new("body")
    potential_tags = set(_COMMENT_POTENTIAL)
    for subtree in select_comment_elements(tree):
        if subtree.parent is None:
            continue
        for elem in subtree.find_all("form"):
            if elem.parent is not None:
                elem.drop_tree()
        for token in ("reply", "respond", "hidden"):
            for elem in subtree.find_all():
                if elem.parent is not None and _class_token(elem, token):
                    elem.drop_tree()
        strip_tags(subtree, "a", "ref", "span")
        # leaf-first emission: only elements without emitting descendants,
        # so nested containers don't duplicate their children's text
        stack = list(reversed(subtree.children))
        while stack:
            elem = stack.pop()
            if elem.tag in ("p", "item") or not any(
                c.tag in potential_tags for c in elem.iterdesc()
            ):
                processed = process_comments_node(elem, potential_tags)
                if processed is not None:
                    comments_body.append(processed)
                    continue
            stack.extend(reversed(elem.children))
        if comments_body.children:
            subtree.drop_tree()
            break
    temp_comments = trim(comments_body.text_content())
    return comments_body, temp_comments, len(temp_comments), tree
