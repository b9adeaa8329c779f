"""Output serializers (xml/json/csv/html) and binary loading."""

import gzip
import json
import zlib

from trafilatura_spark.core import bare_extraction
from trafilatura_spark.operators.serialize import (
    render_csv,
    render_html,
    render_json,
    render_xml,
)
from trafilatura_spark.settings import Options
from trafilatura_spark.sources.loading import (
    decode_file,
    detect_encoding,
    handle_compressed_file,
    is_utf8,
)

LONG_P = ("A paragraph long enough to pass the default extraction size "
          "thresholds used throughout the engine, with filler words added "
          "until the two hundred and fifty character minimum is reached "
          "for the whole document as required.")


def _result():
    html = (f"<html><head><title>t</title></head><body><article>"
            f"<h1>Heading here</h1><p>{LONG_P}</p>"
            f'<p>Second <b>bold</b> paragraph long enough to clear gates, '
            f"with plenty of additional words to make certain the output "
            f"size thresholds are very comfortably met.</p>"
            f"</article></body></html>")
    from trafilatura_spark.core import load_html
    from trafilatura_spark.dom import get_body
    from trafilatura_spark.operators.cleaning import convert_tags, tree_cleaning
    from trafilatura_spark.operators.main_extractor import extract_content
    opts = Options(with_metadata=False, formatting=True)
    tree = load_html(html)
    conv = convert_tags(tree_cleaning(get_body(tree).copy(), opts), opts)
    # extract_content consumes conv: the wild-text supplier copies a
    # snapshot taken before the call
    backup = conv.copy()
    body, text, _ = extract_content(conv, opts, backup.copy)
    return body, text


def test_render_xml():
    body, _ = _result()
    xml = render_xml(body, {"title": "T&T", "author": "A"})
    assert xml.startswith('<doc title="T&amp;T" author="A"><main>')
    assert "<head" in xml and "Heading here" in xml
    assert xml.endswith("<comments/></doc>") or xml.endswith(
        "<comments></comments></doc>")
    assert "<hi rend=\"#b\">bold</hi>" in xml


def test_render_json_roundtrip():
    _, text = _result()
    s = render_json({"title": "T", "categories": ["a", "b"]}, "body text",
                    comments="c")
    d = json.loads(s)
    assert d["title"] == "T"
    assert d["categories"] == ["a", "b"]
    assert d["text"] == "body text"
    assert d["comments"] == "c"


def test_render_csv_escapes_tabs():
    s = render_csv({"url": "http://x", "title": "a\tb"}, "line1\nline2")
    fields = s.split("\t")
    assert len(fields) == 11
    assert "line1 line2" in s


def test_render_html():
    body, _ = _result()
    html = render_html(body, title="T")
    assert html.startswith("<html><head><title>T</title></head><body>")
    assert "<h1>Heading here</h1>" in html
    assert "<b>bold</b>" in html


def test_compression_sniff():
    raw = b"<html><body>hello</body></html>"
    assert handle_compressed_file(gzip.compress(raw)) == raw
    assert handle_compressed_file(zlib.compress(raw)) == raw
    assert handle_compressed_file(raw) == raw
    assert handle_compressed_file(b"\x1f\x8bgarbage") == b"\x1f\x8bgarbage"


def test_encoding_cascade():
    assert is_utf8("héllo".encode("utf-8"))
    assert not is_utf8("héllo".encode("latin-1"))
    assert detect_encoding("héllo".encode("latin-1")) == ["latin-1"]
    assert decode_file("héllo".encode("latin-1")) == "héllo"
    assert decode_file(gzip.compress("héllo".encode("utf-8"))) == "héllo"


def test_decode_binary_documents_spark(spark):
    from trafilatura_spark.sources.loading import decode_binary_documents
    rows = [("a", gzip.compress("héllo".encode("utf-8"))),
            ("b", "plain".encode("latin-1")), ("c", None)]
    df = spark.createDataFrame(rows, ["doc_id", "content"])
    got = {r["doc_id"]: r["html"]
           for r in decode_binary_documents(df).collect()}
    assert got == {"a": "héllo", "b": "plain", "c": None}


def test_is_similar_domain():
    from trafilatura_spark.operators.deduplication import is_similar_domain
    assert is_similar_domain("example.com", "example.org")
    assert is_similar_domain("example.com", "example2.net")
    assert not is_similar_domain("example.com", "different.org")


def test_end_to_end_serializers_from_extraction():
    html = (f"<html><head><title>Site | Page</title></head><body><article>"
            f"<h1>Heading</h1><p>{LONG_P}</p><p>{LONG_P} again.</p>"
            f"</article></body></html>")
    res = bare_extraction(html, Options(with_metadata=True))
    s = render_json(res.meta, res.text, res.comments_text)
    assert json.loads(s)["text"] == res.text


def test_render_tei():
    from trafilatura_spark.operators.serialize import render_tei
    body, _ = _result()
    tei = render_tei(body, {"title": "T", "author": "A", "sitename": "S",
                            "url": "http://x", "date": "2024-01-02"})
    assert tei.startswith('<TEI xmlns="http://www.tei-c.org/ns/1.0">')
    assert '<title type="main">T</title>' in tei
    assert '<ptr type="URL" target="http://x"/>' in tei
    assert '<ab type="header">Heading here</ab>' in tei   # head -> ab
    assert "<head" not in tei.split("<text>")[1]
    assert tei.endswith("</body></text></TEI>")
    # well-formed XML
    import xml.etree.ElementTree as ET
    ET.fromstring(tei)


def test_render_xml_wellformed():
    import xml.etree.ElementTree as ET
    body, _ = _result()
    ET.fromstring(render_xml(body, {"title": 'a"<b>&'}))


def test_reference_encoding_resources(reference_dir):
    """Decode the reference's own encoding fixtures
    (test/resources/utf8.html, webpage.html.gz)."""
    res = reference_dir / "test" / "resources"
    if not res.exists():
        import pytest
        pytest.skip("resources missing")
    utf8 = decode_file((res / "utf8.html").read_bytes())
    assert "<html" in utf8.lower() or "<!doctype" in utf8.lower()
    gz = decode_file((res / "webpage.html.gz").read_bytes())
    assert "<" in gz and len(gz) > 200
    # the decoded gz page must extract
    from trafilatura_spark.core import bare_extraction
    from trafilatura_spark.settings import Options
    r = bare_extraction(gz, Options(with_metadata=True))
    assert r.status in ("ok", "empty")


def test_reference_url_list_processing(spark, reference_dir):
    """CLI URL-list semantics: process list minus discard list, dedup
    (cli_utils.dart loadInputDict / deduplicateUrls analog)."""
    res = reference_dir / "test" / "resources"
    if not res.exists():
        import pytest
        pytest.skip("resources missing")
    from trafilatura_spark.sources.discovery import filter_known
    from pyspark.sql import functions as F

    def load(name):
        urls = [(u.strip(),) for u in (res / name).read_text().splitlines()
                if u.strip()]
        return spark.createDataFrame(urls, ["url"])

    todo = filter_known(load("list-process.txt"), load("list-discard.txt"))
    got = {r["url"] for r in todo.collect()}
    # exact-match anti-join: the discard list removes its exact twins only
    assert "https://httpbin.org/status/404" not in got
    assert "https://httpbin.org/status/200" in got
    # redundant-urls: dropDuplicates collapses exact dupes
    red = load("redundant-urls.txt")
    assert red.dropDuplicates(["url"]).count() <= red.count()


def test_is_similar_domain_reference_formula():
    # deduplication.dart:14-48: strip ANY trailing extension, score
    # 2*matches/(len_a+len_b) with set-membership char matching
    from trafilatura_spark.operators.deduplication import is_similar_domain
    # shifted-by-one strings share all chars -> ratio 1.0 (positional
    # matching scored ~0 here before the port)
    assert is_similar_domain("abcdef.com", "bcdefa.org")
    # arbitrary (non-listed) extensions are stripped too
    assert is_similar_domain("example.travel", "example.museum")
    assert not is_similar_domain("xyz.com", "abba.net")


def test_render_tei_full_header():
    """Full writeFullHeader field set (xml_utils.dart:598-813)."""
    from trafilatura_spark.dom import Node
    from trafilatura_spark.operators.serialize import render_tei
    body = Node("body")
    p = Node("p", {}, body)
    p.text = "content"
    body.children.append(p)
    meta = {"title": "T", "author": "A", "sitename": "Site",
            "hostname": "ex.org", "date": "2024-01-02", "url": "http://x",
            "license": "CC-BY", "id": "doc-9", "fingerprint": "abcd1234",
            "description": "desc", "categories": ["news"],
            "tags": ["a", "b"]}
    tei = render_tei(body, meta)
    assert "<publisher>Site (ex.org)</publisher>" in tei
    assert "<availability><p>CC-BY</p></availability>" in tei
    assert '<note type="id">doc-9</note>' in tei
    assert '<note type="fingerprint">abcd1234</note>' in tei
    assert '<bibl type="sigle">Site, 2024-01-02</bibl>' in tei
    assert "<bibl>T, Site, 2024-01-02</bibl>" in tei
    assert "<biblFull>" in tei
    assert '<term type="categories">news</term>' in tei
    assert '<term type="tags">a,b</term>' in tei
    assert '<date type="download"></date>' in tei
    assert 'ident="Trafilatura"' in tei
    assert '<div type="entry"><p>content</p></div>' in tei
    # no license -> empty publicationStmt placeholder
    tei2 = render_tei(body, {"title": "T"})
    assert "<publicationStmt><p/></publicationStmt>" in tei2


def test_extract_format_dispatch():
    """determineReturnString parity (core.dart:25-105): one entry point,
    six output formats."""
    from trafilatura_spark import Options, extract
    pad = "word " * 30
    html = (f'<html lang="en"><head><title>T | x</title>'
            f'<meta property="og:title" content="My Title"/></head>'
            f"<body><article><h2>Head</h2><p>{pad}</p></article></body></html>")
    o = Options(min_output_size=1, min_extracted_size=5, fast=True)
    txt = extract(html, "txt", o)
    assert txt.startswith("---\ntitle: My Title")
    assert "word word" in txt
    assert '"title": "My Title"' in extract(html, "json", o)
    assert extract(html, "csv", o).count("\t") == 10
    assert extract(html, "xml", o).startswith('<doc title="My Title"')
    assert "<h2>Head</h2>" in extract(html, "html", o)
    assert extract(html, "xmltei", o).startswith(
        '<TEI xmlns="http://www.tei-c.org/ns/1.0">')
    assert extract("<html><body></body></html>", "txt", o) is None


_FORMATS = ("txt", "markdown", "json", "csv", "xml", "xmltei", "html")
# "e" + combining acute: the renderer NFC-composes it
_DISPATCH_HTML = (
    '<html lang="en"><head><title>My Title</title>'
    '<meta name="author" content="Jane Doe"/></head><body><article>'
    "<h2>Head</h2><p>Cafe\u0301 with <b>bold</b> words "
    + "word " * 30 + "</p></article></body></html>")


def test_extract_renders_through_determine_return_string():
    """extract() is bare_extraction + determine_return_string for every
    format: the fingerprint rides every non-txt format, markdown extracts
    with formatting, and output is NFC-composed."""
    from dataclasses import replace

    from trafilatura_spark import extract
    from trafilatura_spark.operators.serialize import determine_return_string
    o = Options(min_output_size=1, min_extracted_size=5, fast=True)
    for fmt in _FORMATS:
        want_opts = replace(o, fingerprint=fmt not in ("txt", "markdown"),
                            formatting=fmt == "markdown")
        res = bare_extraction(_DISPATCH_HTML, want_opts)
        want = determine_return_string(
            res.body, res.meta, fmt, comments_body=res.commentsbody,
            formatting=want_opts.formatting,
            with_metadata=want_opts.with_metadata)
        assert extract(_DISPATCH_HTML, fmt, o) == want, fmt
    fp = bare_extraction(_DISPATCH_HTML, replace(o, fingerprint=True)) \
        .meta["fingerprint"]
    assert fp
    assert json.loads(extract(_DISPATCH_HTML, "json", o))["fingerprint"] == fp
    assert extract(_DISPATCH_HTML, "csv", o).split("\t")[2] == fp
    assert f'fingerprint="{fp}"' in extract(_DISPATCH_HTML, "xml", o)
    assert "fingerprint" not in extract(_DISPATCH_HTML, "txt", o)
    assert "**bold**" in extract(_DISPATCH_HTML, "markdown", o)
    for fmt in _FORMATS:
        out = extract(_DISPATCH_HTML, fmt, o)
        assert "Caf\u00e9" in out and "\u0301" not in out, fmt


_COMMENT_HTML = (
    '<html lang="en"><head><title>Comment Page</title></head><body>'
    "<article><h2>Head</h2><p>Body text " + "word " * 30 + "</p></article>"
    '<div id="comments"><p>First comment here.</p>'
    "<p>Second comment here.</p></div></body></html>")


def test_extract_matches_in_stage_spark_sink(spark, tmp_path):
    """Every sink renders the string extract() renders, for every format:
    the extraction operator's in-stage serialize, the job's --serialize
    (run_extraction) and the crawl modes' (extract_fetched_pages), on a
    page without and a page with a comment section."""
    from trafilatura_spark import extract
    from trafilatura_spark.job import run_extraction
    from trafilatura_spark.operators.pipeline import extract_documents
    from trafilatura_spark.sources.corpus import html_to_documents
    from trafilatura_spark.sources.crawl import extract_fetched_pages
    o = Options(min_output_size=1, min_extracted_size=5, fast=True)
    html = {"d1": _DISPATCH_HTML, "d2": _COMMENT_HTML}
    pages = spark.createDataFrame(sorted(html.items()),
                                  "url string, html string")
    docs = html_to_documents(pages, id_col="url", html_col="html")
    for fmt in _FORMATS:
        want = {doc_id: extract(page, fmt, o) for doc_id, page in html.items()}
        assert all(want.values()), fmt
        if fmt != "html":  # the html render carries no comments
            assert "Second comment here." in want["d2"], fmt
        out, prog = str(tmp_path / f"o-{fmt}"), str(tmp_path / f"p-{fmt}")
        run_extraction(spark, docs, out, prog, f"sink-{fmt}", o,
                       n_buckets=1, wave_size=1, serialize=fmt)
        sinks = {
            "operator": extract_documents(docs, o, serialize=fmt),
            "job": spark.read.parquet(out),
            "crawl": extract_fetched_pages(pages, o, serialize=fmt),
        }
        for sink, df in sinks.items():
            got = {r["doc_id"]: r["serialized"]
                   for r in df.select("doc_id", "serialized").collect()}
            assert got == want, (fmt, sink)


def test_xml_sweep_drops_container_emptied_by_normalization():
    """normalize_output_tree decides emptiness in one pass, so a list
    whose only item is whitespace leaves it as an empty `<list/>`; the
    xml/xmltei empty-element sweep (core.dart:29-47) then drops it."""
    from trafilatura_spark.dom import Node
    from trafilatura_spark.operators.normalize import normalize_output_tree
    from trafilatura_spark.operators.serialize import (
        determine_return_string, render_tei)
    body = Node("body")
    para = Node("p")
    para.text = "Kept paragraph text."
    body.append(para)
    lst = Node("list")
    body.append(lst)
    item = Node("item")
    item.text = "  "
    lst.append(item)
    normalize_output_tree(body, False)
    assert "<list/>" in render_xml(body)
    assert "<list/>" in render_tei(body)
    for fmt in ("xml", "xmltei"):
        out = determine_return_string(body, {}, fmt, with_metadata=False)
        assert "<p>Kept paragraph text.</p>" in out, fmt
        assert "<list" not in out, fmt
