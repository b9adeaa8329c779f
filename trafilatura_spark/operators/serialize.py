"""Output serializers: extracted tree/result → xml / json / csv / html.

Re-expression of /root/reference/lib/src/xml_utils.dart (buildXmlOutput
289-345, buildJsonOutput 195-229, xmltocsv 564-595, buildHtmlOutput
232-266 via htmlprocessing.dart:572-640).  The engine's primary sink is
the span table; these string formats exist for reference parity and for
users consuming single-document outputs.  On Spark each is a per-row
map — see :func:`serialize_column` for the DataFrame form.

TEI output implements the reference's full writeFullHeader field set
(xml_utils.dart:598-813) plus the checkTei invalid-tag merge
(xml_utils.dart:348-392).
"""

from __future__ import annotations

import json as _json
from dataclasses import replace

from ..dom import Node

# xml_utils.dart:26 + graphic attrs (main_extractor.dart:294-313)
_KEPT_ATTRS = ("rend", "rendition", "role", "target", "type", "src", "alt",
               "title")

_META_ORDER = ("sitename", "title", "author", "date", "url", "hostname",
               "description", "categories", "tags", "license", "fingerprint")

# htmlprocessing.dart:572-582 reverse conversion map
_HTML_TAGS = {
    "p": "p", "list": "ul", "item": "li", "quote": "blockquote",
    "code": "pre", "table": "table", "row": "tr", "lb": "br",
    "del": "del", "comment": "div",
}
_HEAD_RENDS = {f"h{i}": f"h{i}" for i in range(1, 7)}
_HI_RENDS = {"#b": "b", "#i": "i", "#u": "u", "#t": "tt", "#sub": "sub",
             "#sup": "sup"}


def _esc(s: str, quote: bool = False) -> str:
    s = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    if quote:
        s = s.replace('"', "&quot;")
    return s


def _xml_elem(node: Node, parts: list) -> None:
    attrs = "".join(
        f' {k}="{_esc(node.attrs[k], quote=True)}"'
        for k in _KEPT_ATTRS if node.attrs.get(k)
    )
    if not node.children and not node.text:
        parts.append(f"<{node.tag}{attrs}/>")
    else:
        parts.append(f"<{node.tag}{attrs}>{_esc(node.text)}")
        for child in node.children:
            _xml_elem(child, parts)
        parts.append(f"</{node.tag}>")
    if node.tail:
        parts.append(_esc(node.tail))


def render_xml(body: Node, meta: dict | None = None,
               comments_body: Node | None = None) -> str:
    """`<doc …><main>…</main><comments>…</comments></doc>`
    (xml_utils.dart:289-345 buildXmlOutput + addXmlMeta)."""
    meta = meta or {}
    attrs = []
    for key in _META_ORDER:
        val = meta.get(key)
        if isinstance(val, list):
            val = ",".join(val)
        if val:
            attrs.append(f' {key}="{_esc(str(val), quote=True)}"')
    parts: list = [f"<doc{''.join(attrs)}>", "<main>"]
    for child in body.children:
        _xml_elem(child, parts)
    parts.append("</main>")
    parts.append("<comments>")
    if comments_body is not None:
        for child in comments_body.children:
            _xml_elem(child, parts)
    parts.append("</comments>")
    parts.append("</doc>")
    return "".join(parts)


def render_json(meta: dict | None, text: str, comments: str = "") -> str:
    """buildJsonOutput (xml_utils.dart:195-229)."""
    meta = meta or {}
    out = {
        "title": meta.get("title"),
        "author": meta.get("author"),
        "url": meta.get("url"),
        "hostname": meta.get("hostname"),
        "description": meta.get("description"),
        "sitename": meta.get("sitename"),
        "date": meta.get("date"),
        "categories": meta.get("categories"),
        "tags": meta.get("tags"),
        "fingerprint": meta.get("fingerprint"),
        "id": meta.get("id"),
        "license": meta.get("license"),
        "comments": comments,
        "text": text,
    }
    return _json.dumps(out, ensure_ascii=False)


def _csv_field(val) -> str:
    if val is None:
        return "null"
    s = str(val)
    return s.replace("\t", "    ").replace("\n", " ")


def render_csv(meta: dict | None, text: str, comments: str = "") -> str:
    """Tab-separated record (xml_utils.dart:564-595 xmltocsv)."""
    meta = meta or {}
    fields = [
        meta.get("url"), meta.get("id"), meta.get("fingerprint"),
        meta.get("hostname"), meta.get("title"), meta.get("image"),
        meta.get("date"), text, comments, meta.get("license"),
        meta.get("pagetype"),
    ]
    return "\t".join(_csv_field(f) for f in fields)


def _html_elem(node: Node, parts: list) -> None:
    tag = node.tag
    attrs = ""
    if tag == "head":
        out = _HEAD_RENDS.get(node.attrs.get("rend", ""), "h2")
    elif tag == "hi":
        out = _HI_RENDS.get(node.attrs.get("rend", ""), "b")
    elif tag == "cell":
        out = "th" if node.attrs.get("role") == "head" else "td"
    elif tag == "ref":
        out = "a"
        if node.attrs.get("target"):
            attrs = f' href="{_esc(node.attrs["target"], quote=True)}"'
    elif tag == "graphic":
        src = _esc(node.attrs.get("src", ""), quote=True)
        alt = _esc(node.attrs.get("alt", ""), quote=True)
        parts.append(f'<img src="{src}" alt="{alt}"/>')
        if node.tail:
            parts.append(_esc(node.tail))
        return
    else:
        out = _HTML_TAGS.get(tag, "div")
    if out == "br":
        parts.append("<br/>")
    else:
        parts.append(f"<{out}{attrs}>{_esc(node.text)}")
        for child in node.children:
            _html_elem(child, parts)
        parts.append(f"</{out}>")
    if node.tail:
        parts.append(_esc(node.tail))


def render_html(body: Node, title: str | None = None) -> str:
    """Minimal HTML document (htmlprocessing.dart:585-640)."""
    parts: list = ["<html><head>"]
    if title:
        parts.append(f"<title>{_esc(title)}</title>")
    parts.append("</head><body>")
    for child in body.children:
        _html_elem(child, parts)
    parts.append("</body></html>")
    return "".join(parts)


# -- TEI ----------------------------------------------------------------------

# xml_utils.dart:20-23 teiValidTags
TEI_VALID_TAGS = frozenset(
    "ab body cell code del div graphic head hi item lb list p quote ref row "
    "table".split())


def _tei_prepare(node: Node) -> Node:
    """checkTei analog (xml_utils.dart:348-392): merge invalid tags into
    their parents; body-level `head` becomes `<ab type="header">`."""
    out = node.copy()
    for child in out.find_all():
        if child.tag not in TEI_VALID_TAGS and child.parent is not None:
            child.strip_self()
    for child in out.children:
        if child.tag == "head":
            child.tag = "ab"
            child.attrs = {"type": "header",
                           **{k: v for k, v in child.attrs.items()
                              if k != "rend"}}
    return out


def _publisher_string(meta: dict) -> str:
    """_definePublisherString (xml_utils.dart:627-632)."""
    sitename, hostname = meta.get("sitename"), meta.get("hostname")
    if hostname and sitename:
        return f"{sitename.strip()} ({hostname})"
    return hostname or sitename or "N/A"


def render_tei(body: Node, meta: dict | None = None,
               comments_body: Node | None = None) -> str:
    """TEI P5 document with the full header field set
    (xml_utils.dart:598-813 writeTeiTree + writeFullHeader): titleStmt,
    publicationStmt with publisher/availability, notesStmt (id +
    fingerprint), sourceDesc with sigle + biblFull, profileDesc with
    abstract/keywords/download-date, encodingDesc application block;
    body wrapped in ``div type=entry``."""
    meta = meta or {}
    g = lambda k: _esc(str(meta.get(k) or ""))  # noqa: E731
    publisher = _esc(_publisher_string(meta))
    sigle = ", ".join(x for x in (meta.get("sitename"), meta.get("date")) if x)
    bibl = ", ".join(x for x in (meta.get("title"), sigle) if x)
    parts: list = [
        '<TEI xmlns="http://www.tei-c.org/ns/1.0">',
        "<teiHeader><fileDesc><titleStmt>",
        f'<title type="main">{g("title")}</title>',
    ]
    if meta.get("author"):
        parts.append(f"<author>{g('author')}</author>")
    parts.append("</titleStmt><publicationStmt>")
    if meta.get("license"):
        parts.append(f"<publisher>{publisher}</publisher>"
                     f"<availability><p>{g('license')}</p></availability>")
    else:
        parts.append("<p/>")
    parts.append("</publicationStmt><notesStmt>")
    if meta.get("id"):
        parts.append(f'<note type="id">{g("id")}</note>')
    if meta.get("fingerprint"):
        parts.append(f'<note type="fingerprint">{g("fingerprint")}</note>')
    parts.append("</notesStmt><sourceDesc>")
    parts.append(f"<bibl>{_esc(bibl)}</bibl>")
    parts.append(f'<bibl type="sigle">{_esc(sigle)}</bibl>')
    parts.append('<biblFull><titleStmt>'
                 f'<title type="main">{g("title")}</title>')
    if meta.get("author"):
        parts.append(f"<author>{g('author')}</author>")
    parts.append("</titleStmt><publicationStmt>"
                 f"<publisher>{publisher}</publisher>")
    if meta.get("url"):
        parts.append(f'<ptr type="URL" target="{_esc(meta["url"], True)}"/>')
    parts.append(f"<date>{g('date')}</date>"
                 "</publicationStmt></biblFull>"
                 "</sourceDesc></fileDesc>")
    parts.append("<profileDesc>"
                 f"<abstract><p>{g('description')}</p></abstract>")
    categories, tags = meta.get("categories") or [], meta.get("tags") or []
    if categories or tags:
        parts.append("<textClass><keywords>")
        if categories:
            parts.append(f'<term type="categories">'
                         f'{_esc(",".join(categories))}</term>')
        if tags:
            parts.append(f'<term type="tags">{_esc(",".join(tags))}</term>')
        parts.append("</keywords></textClass>")
    parts.append("<creation>"
                 f'<date type="download">{g("filedate")}</date>'
                 "</creation></profileDesc>")
    parts.append('<encodingDesc><appInfo>'
                 '<application version="0.1" ident="Trafilatura">'
                 "<label>Trafilatura</label>"
                 '<ptr target="https://github.com/adbar/trafilatura"/>'
                 "</application></appInfo></encodingDesc>")
    parts.append("</teiHeader><text><body>")
    parts.append('<div type="entry">')
    for child in _tei_prepare(body).children:
        _xml_elem(child, parts)
    parts.append("</div>")
    if comments_body is not None and comments_body.children:
        parts.append('<div type="comments">')
        for child in _tei_prepare(comments_body).children:
            _xml_elem(child, parts)
        parts.append("</div>")
    parts.append("</body></text></TEI>")
    return "".join(parts)


# -- format dispatch ----------------------------------------------------------

TREE_FORMATS = frozenset({"xml", "xmltei", "html", "txt", "markdown"})
ALL_FORMATS = frozenset(TREE_FORMATS | {"json", "csv"})
_TXT_FORMATS = frozenset({"txt", "markdown"})  # core.dart:22 _txtFormats


def plan_output_format(fmt: str | None, options):
    """What an output format needs from extraction, decided once for
    ``core.extract`` and every Spark sink: returns ``(options, in_stage)``.

    ``options`` gains the content fingerprint for every non-txt format
    (core.dart:22,547-560) and formatting for markdown ("Markdown always
    needs formatting", settings.dart:172-174).  ``in_stage`` is ``fmt``
    when it renders from the extraction tree inside the Arrow stage,
    else None: json/csv sinks derive JVM-side from the output columns
    (:func:`serialize_column`)."""
    changes = {}
    if fmt and fmt not in _TXT_FORMATS:
        changes["fingerprint"] = True
    if fmt == "markdown":
        changes["formatting"] = True
    return (replace(options, **changes),
            fmt if fmt in TREE_FORMATS else None)


_FRONT_MATTER_FIELDS = ("title", "author", "url", "hostname", "description",
                        "sitename", "date", "categories", "tags",
                        "fingerprint", "id", "license")


def _prune_empty_elements(body: Node) -> Node:
    """The xml-format empty-element sweep (determineReturnString,
    core.dart:29-47): drop childless empty-text elements other than
    graphic, unless the parent is code."""
    out = body.copy()
    for node in list(out.find_all()):
        if (node.tag != "graphic" and not node.children
                and not node.text.strip() and node.parent is not None
                and node.parent.tag != "code"):
            node.drop_tree(keep_tail=True)
    return out


def determine_return_string(body: Node, meta: dict | None, fmt: str,
                            comments_body: Node | None = None,
                            formatting: bool = False,
                            with_metadata: bool = True) -> str:
    """Per-document output-format dispatch (determineReturnString,
    core.dart:25-105): xml/xmltei get the empty-element sweep then the
    tree serializer; txt/markdown get a YAML-ish front-matter block when
    metadata is on, body text, then comments; trailing trim + NFC
    normalization (normalizeUnicode — identity in the Dart port,
    utils.dart:262)."""
    import unicodedata

    from .render import render_txt

    meta = meta or {}
    if fmt in ("xml", "xmltei"):
        pruned = _prune_empty_elements(body)
        if fmt == "xmltei":
            out = render_tei(pruned, meta if with_metadata else None,
                             comments_body)
        else:
            out = render_xml(pruned, meta if with_metadata else None,
                             comments_body)
    elif fmt == "csv":
        text = render_txt(body, include_formatting=formatting)
        comments = (render_txt(comments_body, include_formatting=formatting)
                    if comments_body is not None else "")
        out = render_csv(meta, text, comments)
    elif fmt == "json":
        text = render_txt(body, include_formatting=formatting)
        comments = (render_txt(comments_body, include_formatting=formatting)
                    if comments_body is not None else "")
        out = render_json(meta if with_metadata else {}, text, comments)
    elif fmt == "html":
        out = render_html(body, meta.get("title") if with_metadata else None)
    elif fmt in ("txt", "markdown"):
        parts = []
        if with_metadata:
            lines = ["---"]
            for name in _FRONT_MATTER_FIELDS:
                val = meta.get(name)
                if isinstance(val, list):
                    val = ", ".join(val)
                if val:
                    lines.append(f"{name}: {val}")
            lines.append("---")
            parts.append("\n".join(lines) + "\n")
        include_formatting = formatting or fmt == "markdown"
        parts.append(render_txt(body, include_formatting=include_formatting))
        if comments_body is not None and comments_body.children:
            parts.append("\n")
            parts.append(render_txt(comments_body,
                                    include_formatting=include_formatting))
        out = "".join(parts).strip()
    else:
        raise ValueError(f"unsupported output format: {fmt}")
    return unicodedata.normalize("NFC", out)


# -- Spark form ---------------------------------------------------------------

def serialize_column(extracted, fmt: str = "json"):
    """Add a serialized string column to the extraction output DataFrame.

    json/csv run JVM-side (`to_json` / `concat_ws` over the existing
    columns); xml/html re-render from spans via an Arrow-batched stage.
    """
    from pyspark.sql import functions as F

    # per-document comment text, as render_json/render_csv receive it
    comments = F.array_join(
        F.transform(F.filter("spans", lambda s: s["kind"] == "comment"),
                    lambda s: s["text"]), " ")

    if fmt == "json":
        # same record layout as render_json (buildJsonOutput,
        # xml_utils.dart:195-229) so row-wise and DataFrame-wise
        # serializations agree field-for-field
        return extracted.withColumn(
            "serialized",
            F.to_json(F.struct(
                F.col("meta.title").alias("title"),
                F.col("meta.author").alias("author"),
                F.col("meta.url").alias("url"),
                F.col("meta.hostname").alias("hostname"),
                F.col("meta.description").alias("description"),
                F.col("meta.sitename").alias("sitename"),
                F.col("meta.date").alias("date"),
                F.col("meta.categories").alias("categories"),
                F.col("meta.tags").alias("tags"),
                F.col("meta.fingerprint").alias("fingerprint"),
                F.col("meta.id").alias("id"),
                F.col("meta.license").alias("license"),
                comments.alias("comments"),
                F.col("text"))))
    if fmt == "csv":
        # same 11-column layout as render_csv (xmltocsv,
        # xml_utils.dart:564-595): url, id, fingerprint, hostname, title,
        # image, date, text, comments, license, pagetype
        def fld(col):
            return F.coalesce(
                F.translate(F.regexp_replace(col, "\t", "    "), "\n", " "),
                F.lit("null"))
        return extracted.withColumn(
            "serialized",
            F.concat_ws("\t",
                        fld(F.col("meta.url")),
                        fld(F.col("meta.id")),
                        fld(F.col("meta.fingerprint")),
                        fld(F.col("meta.hostname")),
                        fld(F.col("meta.title")),
                        fld(F.col("meta.image")),
                        fld(F.col("meta.date")),
                        fld(F.col("text")),
                        fld(comments),
                        fld(F.col("meta.license")),
                        fld(F.col("meta.pagetype"))))
    raise ValueError(f"unsupported DataFrame serialization: {fmt}")
