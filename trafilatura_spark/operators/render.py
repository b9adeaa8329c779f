"""Span emission and text/markdown rendering of the output tree.

The primary sink is the span table (SURVEY.md §2.13): a pre-order
flattening of the result body into
``(kind, text, media_ref, offset)`` rows.  The txt/markdown renderer
re-expresses xml_utils.dart:395-561 and exists for parity fixtures and
the ``text`` convenience column.
"""

from __future__ import annotations

from ..dom import Node
from ..functions.textutils import sanitize
from ..settings import HI_FORMATTING, NEWLINE_ELEMS, SPECIAL_FORMATTING

# container kinds whose children become their own spans
_CONTAINERS = {"list", "table", "row"}

OUTPUT_VOCAB = frozenset(
    "p head hi list item quote code table row cell graphic ref lb del comment".split()
)


def render_inline(node: Node, include_formatting: bool = False) -> str:
    """Flatten one leaf-ish output node to inline text, inlining ref/hi/lb
    children (xml_utils.dart:395-450 replaceElementText)."""
    parts = [node.text]
    for child in node.children:
        parts.append(render_inline(child, include_formatting))
        parts.append(child.tail)
    text = "".join(parts)
    tag = node.tag
    if include_formatting and text:
        if tag == "head":
            rend = node.attrs.get("rend", "")
            try:
                number = int(rend[1]) if len(rend) > 1 else 2
            except (ValueError, IndexError):
                number = 2
            text = f"{'#' * number} {text}"
        elif tag == "del":
            text = f"~~{text}~~"
        elif tag == "hi":
            marker = HI_FORMATTING.get(node.attrs.get("rend", ""))
            if marker:
                text = f"{marker}{text}{marker}"
        elif tag == "code":
            if "\n" in text:
                text = f"```\n{text}\n```"
            else:
                text = f"`{text}`"
    if tag == "ref" and text:
        target = node.attrs.get("target")
        text = f"[{text}]({target})" if target else f"[{text}]"
    if tag == "lb":
        text = "\n" + text
    return text


def emit_spans(body: Node, comments_body: Node | None = None,
               include_formatting: bool = False) -> list[dict]:
    """Pre-order span flattening.  Containers (list/table/row, quote with
    paragraph children) yield empty-text structural spans; leaves carry the
    inline-rendered text; graphics carry ``media_ref`` from ``src``
    (main_extractor.dart:291-314 ↔ FIXTURES.md §2)."""
    spans: list[dict] = []

    def emit(node: Node, kind_override: str | None = None) -> None:
        kind = kind_override or node.tag
        if kind in _CONTAINERS or (kind == "quote" and node.children):
            spans.append({"kind": kind, "text": "", "media_ref": "",
                          "offset": len(spans)})
            for child in node.children:
                emit(child)
            return
        if kind == "graphic":
            spans.append({
                "kind": "graphic",
                "text": (node.attrs.get("alt") or node.attrs.get("title") or ""),
                "media_ref": node.attrs.get("src", ""),
                "offset": len(spans),
            })
            return
        text = render_inline(node, include_formatting)
        spans.append({"kind": kind, "text": text, "media_ref": "",
                      "offset": len(spans)})

    for child in body.children:
        emit(child)
    if comments_body is not None:
        for child in comments_body.children:
            emit(child, kind_override="comment")
    return spans


def render_txt(body: Node, include_formatting: bool = False) -> str:
    """Tree → plain text / markdown (xml_utils.dart:453-561)."""
    parts: list[str] = []

    def process(element: Node) -> None:
        tag = element.tag
        if tag == "cell":
            prev = None
            if element.parent is not None:
                sibs = [c for c in element.parent.children]
                idx = sibs.index(element)
                prev = sibs[idx - 1] if idx > 0 else None
            if prev is None:
                parts.append("| ")
        direct = element.text.strip()
        if direct:
            parts.append(render_inline_shallow(element, include_formatting))
        for child in element.children:
            process(child)
        if not direct:
            if tag == "graphic":
                title = element.attrs.get("title", "")
                alt = element.attrs.get("alt", "")
                src = element.attrs.get("src", "")
                parts.append(f"![{(title + ' ' + alt).strip()}]({src})")
            elif tag in NEWLINE_ELEMS:
                if tag == "row":
                    cells = element.find_all("cell")
                    if any(c.attrs.get("role") == "head" for c in cells):
                        parts.append(f"\n|{'---|' * max(len(cells), 1)}\n")
                    parts.append("\n")
                else:
                    parts.append("\n")
                # one \n here, where the reference appends two; sanitize
                # keeps blank lines, so the text holds one \n fewer than
                # the reference's after each such element
            elif tag in ("cell", "item"):
                pass
            else:
                return
        if tag in NEWLINE_ELEMS and direct:
            parts.append("\n")
        elif tag == "cell":
            parts.append(" | ")
        elif tag not in SPECIAL_FORMATTING:
            parts.append(" ")

    def render_inline_shallow(element: Node, fmt: bool) -> str:
        # like render_inline but only the element's own text (children are
        # visited by process())
        save_children = element.children
        element.children = []
        try:
            return render_inline(element, fmt)
        finally:
            element.children = save_children

    for child in body.children:
        process(child)
    result = "".join(parts)
    return sanitize(result) or ""
