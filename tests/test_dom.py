"""DOM tokenizer/parser behaviors the cascade relies on
(reference: /root/reference/lib/src/utils.dart:194-235 loadHtml contract)."""

import hashlib
import sys
import warnings

import pytest

from trafilatura_spark import chtml, dom
from trafilatura_spark.dom import get_body, parse_html, strip_tags


def test_basic_tree():
    t = parse_html("<html><body><p>hello <b>world</b> tail</p></body></html>")
    body = get_body(t)
    p = body.children[0]
    assert p.tag == "p"
    assert p.text == "hello "
    assert p.children[0].tag == "b"
    assert p.children[0].text == "world"
    assert p.children[0].tail == " tail"


def test_body_synthesis():
    t = parse_html("<p>one</p><p>two</p>")
    body = get_body(t)
    assert [c.tag for c in body.children] == ["p", "p"]


def test_implicit_p_close():
    t = parse_html("<body><p>one<p>two</body>")
    body = get_body(t)
    assert [c.tag for c in body.children] == ["p", "p"]
    assert body.children[0].text == "one"
    assert body.children[1].text == "two"


def test_implicit_li_close():
    t = parse_html("<ul><li>a<li>b</ul>")
    ul = get_body(t).children[0]
    assert [c.tag for c in ul.children] == ["li", "li"]
    assert [c.text for c in ul.children] == ["a", "b"]


def test_void_elements():
    t = parse_html("<p>before<br>after<img src='x'>tail</p>")
    p = get_body(t).children[0]
    assert [c.tag for c in p.children] == ["br", "img"]
    assert p.children[0].tail == "after"
    assert p.children[1].tail == "tail"


def test_attrs_lowercase_tags():
    t = parse_html('<DIV CLASS="Post-Content" id="Main">x</DIV>')
    d = get_body(t).children[0]
    assert d.tag == "div"
    assert d.attrs["class"] == "Post-Content"


def test_text_content_and_tails():
    t = parse_html("<div>a<span>b</span>c<em>d</em>e</div>")
    assert get_body(t).children[0].text_content() == "abcde"


def test_strip_tags_keeps_content():
    t = parse_html("<p>one <span>two</span> three</p>")
    strip_tags(get_body(t), "span")
    p = get_body(t).children[0]
    assert not p.children
    assert p.text == "one two three"


def test_drop_tree_keeps_tail():
    t = parse_html("<div><span>x</span>tail</div>")
    d = get_body(t).children[0]
    d.children[0].drop_tree()
    assert d.text == "tail"


def test_table_structure():
    t = parse_html("<table><tr><th>h</th><td>a</td></tr><tr><td>b</td></tr></table>")
    table = get_body(t).children[0]
    rows = table.find_all("tr")
    assert len(rows) == 2
    assert [c.tag for c in rows[0].children] == ["th", "td"]


def test_script_style_cdata():
    t = parse_html("<body><script>if (a<b) {x}</script><p>ok</p></body>")
    body = get_body(t)
    assert body.children[0].tag == "script"
    assert "a<b" in body.children[0].text
    assert body.children[1].tag == "p"


def test_malformed_nesting_recovery():
    t = parse_html("<div><b>bold<i>both</b>italic?</i></div>")
    assert "bold" in get_body(t).text_content()


def test_lone_apostrophe_in_attr_does_not_swallow_content():
    # regression: a bare apostrophe inside a double-quoted attribute used
    # to extend the tag to the next '>' chains until EOF, silently
    # dropping everything after it (seen on theguardian.com cache page)
    html = ('<html><head><meta content="it\'s a trap" name="description">'
            '</head><body><p>alpha</p><p>beta gamma</p></body></html>')
    t = parse_html(html)
    assert get_body(t).text_content().strip() == "alphabeta gamma".replace("", "") or \
        "beta gamma" in get_body(t).text_content()
    metas = t.find_all("meta")
    assert metas and metas[0].get("content") == "it's a trap"


def test_gt_inside_quoted_attr():
    t = parse_html('<body><img alt="a > b" src="x"><p>tail</p></body>')
    body = get_body(t)
    img = body.find_all("img")[0]
    assert img.get("alt") == "a > b"
    assert "tail" in body.text_content()


def test_comment_wrapping_script_skipped():
    # faz.net pattern: a huge <script> commented out with <!-- ... -->
    html = ('<body><p>before</p><!-- <script>var a = "</p>junk";'
            'if (i<t.length) {}</script> --><p>after</p></body>')
    body = get_body(parse_html(html))
    txt = body.text_content()
    assert "before" in txt and "after" in txt
    assert "junk" not in txt and "t.length" not in txt


def _fuzz_fast_builder(html):
    builder = dom._FastBuilder()
    builder.feed(html)
    root = builder.root
    assert root.tag == "#root"
    root.text_content()


def _fuzz_parse_html(html):
    if dom._CPARSE is None:
        pytest.skip("C accelerator not loaded: parse_html runs _FastBuilder")
    tree = parse_html(html)
    assert tree.tag == "html"
    body = get_body(tree)
    assert body.tag == "body"
    body.text_content()


@pytest.mark.parametrize("parse", [_fuzz_parse_html, _fuzz_fast_builder],
                         ids=["parse_html", "fast_builder"])
def test_parser_fuzz_no_crash(parse):
    """Robustness fuzz: random tag soup must never raise on either
    tokenizer (there is no fallback parser to hide a raise) and
    parse_html must always yield an html/body skeleton."""
    import random
    rng = random.Random(1234)
    frags = ["<div>", "</div>", "<p>", "</p>", "<a href='x'>", "</a>",
             "text ", "it's ", '<img src="i">', "<script>a<b</script>",
             "<!-- c -->", "<!doctype html>", "&amp;", "&bogus;", "< p",
             '<meta content="a > b">', "<td>", "</td>", "<table>",
             "</table>", "<li>", "<ul>", "'", '"', ">", "<", "é",
             "<p class='a\"b'>", "<br/>", "<span", "</nothere>",
             "\ud800", "\udfff", "\x00", "<![CDATA[x]]>", "<![CDATA[",
             "<?php echo 1; ?>", "<?php", "&#99999999;", "&#x110000;",
             "&#0;", '<a href="unterminated', "<div title='open",
             "<script>", "<style>", "</script", "<head>", "<body>",
             "<html>", "</html>", "<dd>", "<tr>", "<select>", "<option>"]
    for _ in range(300):
        html = "".join(rng.choice(frags) for _ in range(rng.randint(0, 40)))
        parse(html)


def test_text_content_document_order():
    """Regression: a node's tail must come AFTER its subtree text
    (was emitted before the children, scrambling nested inline text)."""
    t = parse_html("<body><p><b><i>J</i>ane</b> Doe</p></body>")
    body = get_body(t)
    assert body.text_content() == "Jane Doe"
    assert "".join(body.itertext()) == "Jane Doe"
    t2 = parse_html("<body><div>a<span>b<em>c</em>d</span>e</div></body>")
    assert get_body(t2).text_content() == "abcde"


def test_unclosed_head_implies_body():
    """html5 'in head' recovery: a non-head start tag (or non-whitespace
    text) with <head> still open closes head and opens an implied body —
    without this, pages with no </head>/<body> tags parse to an empty
    body (utils.dart loadHtml relies on the html5 tree constructor)."""
    t = parse_html("<html><head><title>t</title><div>article</div>")
    body = get_body(t)
    assert [c.tag for c in body.children] == ["div"]
    assert body.text_content() == "article"
    # text variant
    t2 = parse_html("<html><head><meta charset='utf-8'>loose text<p>x</p>")
    b2 = get_body(t2)
    assert "loose text" in b2.text_content()
    assert [c.tag for c in b2.children] == ["p"]
    # head-allowed tags stay in head
    t3 = parse_html("<html><head><script>s</script><style>c</style>"
                    "<body><p>x</p></body></html>")
    b3 = get_body(t3)
    assert [c.tag for c in b3.children] == ["p"]


def test_premature_html_end_tag_keeps_body():
    """Stray </html> before <body> (seen in the wild:
    '</head>\\n</html>\\n<body ...') must not orphan the document body —
    html5 treats </body>/</html> as insertion-mode switches only."""
    t = parse_html("<html><head><title>t</title></head></html>"
                   "<body><p>content</p></body>")
    body = get_body(t)
    assert body.text_content() == "content"
    # content after </body> still lands in body
    t2 = parse_html("<html><body><p>a</p></body><div>after</div></html>")
    assert get_body(t2).text_content() == "aafter"


def test_content_before_html_reparented_into_body():
    """Error output emitted before the doctype (PHP warnings etc.) is
    body content under the html5 tree constructor; the dubious-HTML
    gate (<2 body children) must see it."""
    t = parse_html("<br/><b>Deprecated</b>: warning text\n"
                   "<html><head></head><body><div><p>post</p></div></body></html>")
    body = get_body(t)
    tags = [c.tag for c in body.children]
    assert tags[:2] == ["br", "b"]
    assert tags[-1] == "div"
    assert "warning text" in body.text_content()
    assert "post" in body.text_content()


def test_duplicate_html_body_merge_ignored():
    """A second <html>/<body> start tag must not nest a new element
    (html5 merges attributes into the open one)."""
    t = parse_html("<html><body><p>a</p><body class='x'><html><p>b</p></body></html>")
    body = get_body(t)
    assert [n.tag for n in body.iterdesc("body", "html")] == []
    assert get_body(t).text_content() == "ab"


def test_text_only_strays_reach_body():
    """Loose TEXT outside body (no stray elements) is folded into body in
    document order: after-</head> text, pre-<html> text, <html> lead."""
    t = parse_html("<html><head><title>t</title></head>"
                   "Hello world<body><p>x</p></body></html>")
    assert get_body(t).text_content() == "Hello worldx"
    t2 = parse_html("leading text<body><p>x</p></body>")
    assert get_body(t2).text_content() == "leading textx"
    # ordering with both pre-html strays and html lead text
    t3 = parse_html("<b>warn</b><html>intro<head></head><body>x</body></html>")
    assert get_body(t3).text_content() == "warnintrox"


def test_traversal_matches_recursive_reference():
    """iter/iterdesc/find_all must visit nodes in exact recursive
    pre-order (the stack-based implementations carry leaf-skip and
    bound-method micro-optimizations; this differential pins their
    order against the naive definition on fuzzed tag soup)."""
    import random

    def rec_preorder(node, out):
        out.append(node)
        for c in node.children:
            rec_preorder(c, out)
        return out

    rng = random.Random(99)
    frags = ["<div>", "</div>", "<p>", "</p>", "<span>", "</span>",
             "<ul>", "<li>", "</li>", "</ul>", "<a href='x'>t</a>",
             "x ", "<table><tr><td>c</td></tr></table>", "<br>",
             "<em>e</em>", "<h2>h</h2>"]
    for _ in range(120):
        html = "".join(rng.choice(frags) for _ in range(rng.randint(0, 60)))
        tree = parse_html(html)
        ref = rec_preorder(tree, [])
        assert list(tree.iter()) == ref
        assert list(tree.iterdesc()) == ref[1:]
        want = {"div", "p"}
        assert [n for n in tree.iterdesc("div", "p")] == \
            [n for n in ref[1:] if n.tag in want]
        assert tree.find_all("div", "p") == \
            [n for n in ref[1:] if n.tag in want]


def test_chtml_load_warns_on_cached_compile_failure(tmp_path, monkeypatch):
    """A cached compile-failure marker makes chtml.load fall back to the
    pure-Python path with a warning naming the marker and the compiler
    output it holds; TRAFILATURA_SPARK_NO_CHTML keeps the fallback silent."""
    with open(chtml._SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read() + sys.version.encode()
                                + sys.executable.encode()).hexdigest()[:16]
    marker = tmp_path / f"_chtml_{digest}.failed"
    marker.write_bytes(b"_chtml.c:1: error: Python.h: No such file")
    monkeypatch.setenv("TRAFILATURA_SPARK_CHTML_CACHE", str(tmp_path))
    monkeypatch.delenv("TRAFILATURA_SPARK_NO_CHTML", raising=False)
    args = (dom.Node, dom.VOID_ELEMENTS, dom._P_CLOSERS, dom._P_CLOSE_BARRIERS,
            dom._IMPLIED_END, dom._HEAD_CONTENT, dom._NEEDS_IMPLIED,
            dom._GATE_TAGS, dom._unescape)
    with pytest.warns(RuntimeWarning) as caught:
        assert chtml.load(*args) is None
    [warning] = caught
    assert str(marker) in str(warning.message)
    assert "Python.h: No such file" in str(warning.message)
    assert list(tmp_path.iterdir()) == [marker]

    monkeypatch.setenv("TRAFILATURA_SPARK_NO_CHTML", "1")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert chtml.load(*args) is None
