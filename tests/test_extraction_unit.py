"""unit_html fixture family (FIXTURES.md §3): handwritten docs with pinned
golden span sequences, mirroring the reference's unit tests
(/root/reference/test/unit_test.dart:11-118, htmlprocessing_test.dart)."""

import pytest

from trafilatura_spark.core import bare_extraction, extract_txt, load_html
from trafilatura_spark.settings import Options

LONG_P1 = ("This is the first paragraph of the article body and it has been "
           "padded with enough text to pass the default minimum extraction "
           "thresholds that the engine applies, mirroring the reference "
           "defaults of two hundred and fifty characters overall.")
LONG_P2 = ("A second paragraph follows the first one and also carries plenty "
           "of content so that the document comfortably clears the minimum "
           "output size gate applied at the end of the cascade.")


def _page(body: str, head: str = "") -> str:
    return f"<html><head><title>t</title>{head}</head><body>{body}</body></html>"


def _spans(res):
    return [(s["kind"], s["text"], s["media_ref"]) for s in res.spans]


def test_simple_article_golden_spans():
    html = _page(f"<article><h1>The headline</h1><p>{LONG_P1}</p><p>{LONG_P2}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False))
    assert res.status == "ok"
    assert _spans(res) == [
        ("head", "The headline", ""),
        ("p", LONG_P1, ""),
        ("p", LONG_P2, ""),
    ]
    assert [s["offset"] for s in res.spans] == [0, 1, 2]


def test_boilerplate_removed():
    html = _page(
        '<nav><a href="/">home</a><a href="/x">x</a></nav>'
        '<div class="sidebar"><a href="/1">a</a><a href="/2">b</a></div>'
        f"<article><p>{LONG_P1}</p><p>{LONG_P2}</p></article>"
        "<footer><p>copyright legal imprint</p></footer>"
    )
    txt = extract_txt(html, Options(with_metadata=False))
    assert LONG_P1 in txt
    assert "copyright" not in txt
    assert "home" not in txt


def test_formatting_spans():
    html = _page(f"<article><p>{LONG_P1} with <b>bold</b> and <i>italic</i>.</p>"
                 f"<p>{LONG_P2}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False, formatting=False))
    # formatting off: inline hi flattened into the paragraph text
    assert res.spans[0]["text"] == f"{LONG_P1} with bold and italic."
    res_fmt = bare_extraction(html, Options(with_metadata=False, formatting=True))
    assert "**bold**" in res_fmt.spans[0]["text"]
    assert "*italic*" in res_fmt.spans[0]["text"]


def test_links_off_by_default_on_when_asked():
    html = _page(f'<article><p>{LONG_P1} See <a href="https://ex.com/a">the docs</a>.</p>'
                 f"<p>{LONG_P2}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False))
    assert "the docs" in res.spans[0]["text"]
    assert "](" not in res.spans[0]["text"]
    res_links = bare_extraction(html, Options(with_metadata=False, links=True))
    assert "[the docs](https://ex.com/a)" in res_links.spans[0]["text"]


def test_images_emit_graphic_spans():
    html = _page(f'<article><p>{LONG_P1}</p>'
                 f'<img src="m-1" alt="fig one"/><p>{LONG_P2}</p></article>')
    res = bare_extraction(html, Options(with_metadata=False, images=True))
    kinds = [s[0] for s in _spans(res)]
    assert kinds == ["p", "graphic", "p"]
    g = res.spans[1]
    assert g["media_ref"] == "m-1"
    assert g["text"] == "fig one"
    res_no = bare_extraction(html, Options(with_metadata=False, images=False))
    assert [s[0] for s in _spans(res_no)] == ["p", "p"]


def test_list_spans():
    html = _page(f"<article><p>{LONG_P1}</p><ul><li>alpha</li><li>beta</li></ul>"
                 f"<p>{LONG_P2}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False))
    assert _spans(res) == [
        ("p", LONG_P1, ""),
        ("list", "", ""),
        ("item", "alpha", ""),
        ("item", "beta", ""),
        ("p", LONG_P2, ""),
    ]


def test_table_spans():
    html = _page(f"<article><p>{LONG_P1}</p>"
                 "<table><tr><th>h1</th><th>h2</th></tr>"
                 "<tr><td>a</td><td>b</td></tr></table>"
                 f"<p>{LONG_P2}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False, tables=True))
    kinds = [s[0] for s in _spans(res)]
    assert kinds == ["p", "table", "row", "cell", "cell", "row", "cell", "cell", "p"]
    assert res.spans[3]["text"] == "h1"
    res_no = bare_extraction(html, Options(with_metadata=False, tables=False))
    assert "table" not in [s[0] for s in _spans(res_no)]


def test_code_block():
    html = _page(f"<article><p>{LONG_P1}</p>"
                 '<pre><code class="language-py">x = {1: 2}\nprint(x)</code></pre>'
                 f"<p>{LONG_P2}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False))
    kinds = [s[0] for s in _spans(res)]
    assert "code" in kinds


def test_quote_span():
    html = _page(f"<article><p>{LONG_P1}</p><blockquote>A short quoted passage.</blockquote>"
                 f"<p>{LONG_P2}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False))
    assert ("quote", "A short quoted passage.", "") in _spans(res)


def test_comments_extracted_and_separated():
    html = _page(
        f"<article><p>{LONG_P1}</p><p>{LONG_P2}</p></article>"
        '<div class="comments"><ol class="commentlist">'
        "<li><p>first comment text here</p></li>"
        "<li><p>second comment text here</p></li></ol></div>"
    )
    res = bare_extraction(html, Options(with_metadata=False, fast=True,
                                        min_output_comm_size=1,
                                        min_extracted_comm_size=1))
    comment_spans = [s for s in res.spans if s["kind"] == "comment"]
    assert [s["text"] for s in comment_spans] == [
        "first comment text here", "second comment text here"]
    # comments come after the main body and are not duplicated inside it
    main_texts = " ".join(s["text"] for s in res.spans if s["kind"] != "comment")
    assert "first comment" not in main_texts


def test_short_doc_rejected_by_default_sizes():
    html = _page("<article><p>too short</p></article>")
    assert extract_txt(html, Options(with_metadata=False)) is None


def test_min_file_size_gate():
    assert bare_extraction("<p>x</p>", Options()).status == "rejected"


def test_non_html_rejected():
    assert load_html("just a plain sentence, no markup at all") is None
    assert load_html('{"json": "blob"}') is None


def test_language_gate():
    html = ('<html><head><meta http-equiv="content-language" content="de"/></head>'
            f"<body><article><p>{LONG_P1}</p><p>{LONG_P2}</p></article></body></html>")
    assert bare_extraction(html, Options(with_metadata=False, lang="en")).status == "rejected"
    assert bare_extraction(html, Options(with_metadata=False, lang="de")).status == "ok"


def test_baseline_article_rescue():
    # no selectable container, short paragraphs → wild text / baseline path
    html = _page(f"<div id='wrap'><p>{LONG_P1}</p><p>{LONG_P2}</p></div>")
    res = bare_extraction(html, Options(with_metadata=False))
    assert res.status == "ok"
    texts = [s["text"] for s in res.spans]
    assert LONG_P1 in texts and LONG_P2 in texts


def test_json_ld_baseline_tier():
    body_text = ("Article body carried only in structured data, long enough to "
                 "clear the hundred character gate used by the baseline tier.")
    html = _page("<div>nothing here</div>",
                 head='<script type="application/ld+json">'
                      f'{{"articleBody": "{body_text}"}}</script>')
    from trafilatura_spark.dom import parse_html
    from trafilatura_spark.operators.baseline import baseline
    post, text, ln = baseline(parse_html(html))
    assert text == body_text


def test_error_swallowed_to_status():
    res = bare_extraction(None, Options())
    assert res.status in ("rejected", "error")
    assert res.spans == []


def test_parse_crash_is_error_not_rejected(monkeypatch):
    """A tokenizer exception is an extraction error, not bad input: it
    reaches bare_extraction's guard (status 'error') instead of looking
    like non-HTML input (status 'rejected')."""
    from trafilatura_spark import core
    from trafilatura_spark.sources.feeds import FeedParameters, determine_feed

    page = _page(f"<article><p>{LONG_P1}</p><p>{LONG_P2}</p></article>")
    plain = "just a plain sentence, no markup at all, " * 10
    assert bare_extraction(plain, Options()).status == "rejected"
    assert bare_extraction(page, Options()).status == "ok"

    def crash(content):
        raise RuntimeError("tokenizer crash")

    monkeypatch.setattr(core, "parse_html", crash)
    res = bare_extraction(page, Options())
    assert (res.status, res.tier, res.spans) == ("error", "none", [])
    with pytest.raises(RuntimeError):
        load_html(page)
    params = FeedParameters(base="http://example.org", domain="example.org",
                            reference="http://example.org/feed")
    assert determine_feed(page, params) == []


@pytest.mark.parametrize("raw, want", [
    ("a&nbsp;b", "a\u00a0b"),
    ("x&#10;y&#13;z", "x\ny\rz"),
    ("a\x00b\x07c\x1fd\x7fe", "abcde"),
    ("t\tn\nr\r", "t\tn\nr\r"),
    ("one\u2424two", "onetwo"),
    ("a\n\nb\n", "a\n\nb\n"),
    ("  lead and trail  ", "  lead and trail  "),
    ("\u2424", None),
    ("", None),
    (None, None),
])
def test_sanitize(raw, want):
    """Rendered-text cleanup: entities fixed (``&nbsp;`` is U+00A0, not a
    space), control characters dropped but \\t\\n\\r kept, the newline
    symbol removed, whitespace and blank lines left alone."""
    from trafilatura_spark.functions.textutils import sanitize
    assert sanitize(raw) == want


def test_precision_mode_tighter():
    html = _page(
        f"<article><p>{LONG_P1}</p><p>{LONG_P2}</p>"
        '<div class="related-links"><a href="/a">more</a><a href="/b">stories</a></div>'
        "</article>")
    res = bare_extraction(html, Options(with_metadata=False, focus="precision"))
    assert res.status == "ok"
    assert all("more" not in s["text"] for s in res.spans)


def test_prune_patterns_option():
    html = _page(
        f'<article><p>{LONG_P1}</p>'
        f'<div class="promo-box"><p>Buy our product now with this special '
        f'limited offer, available only today for readers of this very '
        f'article and nobody else at all.</p></div>'
        f"<p>{LONG_P2}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False))
    assert any("Buy our product" in s["text"] for s in res.spans)
    res2 = bare_extraction(html, Options(with_metadata=False,
                                         prune_patterns=("promo",)))
    assert res2.status == "ok"
    assert not any("Buy our product" in s["text"] for s in res2.spans)


def test_recall_mode_keeps_more():
    # an unclassed div paragraph short of the div threshold: dropped in
    # balanced, recovered in recall (wild-text div handling,
    # main_extractor.dart:399-437)
    html = _page(
        f"<article><p>{LONG_P1}</p><p>{LONG_P2}</p></article>"
        "<div><p>a stray paragraph of moderate length living outside "
        "the article container entirely.</p></div>")
    balanced = bare_extraction(html, Options(with_metadata=False))
    recall = bare_extraction(html, Options(with_metadata=False, focus="recall"))
    texts_b = " ".join(s["text"] for s in balanced.spans)
    texts_r = " ".join(s["text"] for s in recall.spans)
    assert len(texts_r) >= len(texts_b)


@pytest.mark.parametrize("focus", ["balanced", "precision", "recall"])
def test_fast_mode_rescues_read_pruned_body(focus, monkeypatch):
    """fast=True pages whose main pass comes up short: the wild-text
    second chance and the baseline tier must read the body AFTER
    prune_patterns, so the pruned promo never comes back through a
    rescue."""
    from trafilatura_spark.operators import main_extractor
    promo = ("Buy our product now with this special limited offer, "
             "available only today for readers.")
    pages = [
        (_page(f"<div id='wrap'><p>{LONG_P1}</p>"
               f"<div class='promo-box'><p>{promo}</p></div>"
               f"<p>{LONG_P2}</p></div>"), [LONG_P1, LONG_P2]),
        (_page(f"<div><p>{LONG_P1}</p>"
               f"<div class='promo'><p>{promo}</p></div></div>"), [LONG_P1]),
    ]
    wild = []
    recover = main_extractor.recover_wild_text

    def counted(*args):
        wild.append(1)
        return recover(*args)
    monkeypatch.setattr(main_extractor, "recover_wild_text", counted)
    opts = Options(with_metadata=False, fast=True, focus=focus,
                   prune_patterns=("promo",))
    for html, want in pages:
        wild.clear()
        res = bare_extraction(html, opts)
        assert res.status == "ok"
        assert wild or res.tier == "baseline"
        assert [s["text"] for s in res.spans] == want
        assert promo not in res.text


# -- output-tree normalization (xml_utils.dart:65-192) ------------------------

def _mk(tag, text="", tail="", children=(), attrs=None):
    from trafilatura_spark.dom import Node
    n = Node(tag, attrs or {})
    n.text = text
    n.tail = tail
    for c in children:
        c.parent = n
        n.children.append(c)
    return n


def test_strip_double_tags_merges_nested_p():
    from trafilatura_spark.operators.normalize import strip_double_tags
    inner = _mk("p", text="inner")
    outer = _mk("p", text="outer ", children=[inner])
    body = _mk("body", children=[outer])
    strip_double_tags(body)
    assert [c.tag for c in outer.children] == []
    assert outer.text == "outer  inner"  # base + ' ' + merged


def test_strip_double_tags_respects_nesting_whitelist():
    from trafilatura_spark.operators.normalize import strip_double_tags
    inner = _mk("p", text="quoted para")
    quote = _mk("quote", children=[inner])
    outer = _mk("p", children=[quote])
    body = _mk("body", children=[outer])
    strip_double_tags(body)
    # parent of the nested p is 'quote' (whitelisted) -> untouched
    assert quote.children and quote.children[0].tag == "p"


def test_remove_empty_elements_keeps_graphic_and_code_children():
    from trafilatura_spark.operators.normalize import remove_empty_elements
    empty_p = _mk("p", text="   ")
    graphic = _mk("graphic", attrs={"src": "m-1"})
    code = _mk("code", children=[_mk("lb")])
    keep = _mk("p", text="real text")
    body = _mk("body", children=[empty_p, graphic, code, keep])
    remove_empty_elements(body)
    tags = [c.tag for c in body.children]
    assert tags == ["graphic", "code", "p"]
    assert code.children[0].tag == "lb"  # child of <code> kept


def test_remove_empty_elements_preserves_tail():
    from trafilatura_spark.operators.normalize import remove_empty_elements
    first = _mk("p", text="first")
    empty = _mk("span", tail=" tail kept")
    body = _mk("body", children=[first, empty])
    remove_empty_elements(body)
    assert [c.tag for c in body.children] == ["p"]
    assert first.tail == " tail kept"


def test_merge_with_parent_after_sibling():
    from trafilatura_spark.operators.normalize import merge_with_parent
    prev = _mk("hi", text="bold")
    sub = _mk("p", text="merged", tail=" after")
    parent = _mk("p", text="start ", children=[prev, sub])
    merge_with_parent(sub)
    assert [c.tag for c in parent.children] == ["hi"]
    assert prev.tail == " merged after"


def test_nested_headings_normalized_end_to_end():
    from trafilatura_spark.core import bare_extraction
    from trafilatura_spark.settings import Options
    pad = "word " * 20
    html = (f'<html lang="en"><head><title>t</title></head><body><article>'
            f"<h2>big title <h3>sub title</h3> trailing</h2><p>{pad}</p>"
            f"</article></body></html>")
    res = bare_extraction(html, Options(with_metadata=False, min_output_size=1,
                                        min_extracted_size=5, fast=True))
    assert res.status == "ok"
    assert res.spans[0]["kind"] == "head"
    assert res.spans[0]["text"] == "big title sub title trailing"


def test_links_mode_preserves_mixed_inline_content():
    """Pins the documented links=True deviation (SURVEY.md §2.6 waiver):
    the Dart port keeps only the <a> children of a paragraph and drops
    the surrounding text (main_extractor.dart:230-249); this engine
    preserves the mixed text/ref flow in document order."""
    from trafilatura_spark.core import bare_extraction
    from trafilatura_spark.settings import Options
    pad = "word " * 20
    html = (f'<html lang="en"><head><title>t</title></head><body><article>'
            f'<p>before <a href="https://x.example/t">the link</a> after</p>'
            f"<p>{pad}</p></article></body></html>")
    res = bare_extraction(html, Options(with_metadata=False, links=True,
                                        min_output_size=1,
                                        min_extracted_size=5, fast=True))
    assert res.status == "ok"
    # ref rendered markdown-style inside the paragraph, flanked by the
    # non-link text the Dart port would drop
    assert res.spans[0]["text"] == "before [the link](https://x.example/t) after"


def test_json_ld_salvage_full_zoo():
    """Malformed JSON-LD regex salvage (json_metadata.dart:308-363):
    author after ImageObject/Organization sub-object removal, @type ->
    pagetype, comma-free publisher, articleSection, headline title,
    normalizeJson unicode/HTML cleanup."""
    from trafilatura_spark.operators.metadata import (
        _extract_json_parse_error, normalize_json)
    bad = ('{"@context":"https://schema.org","@type":"NewsArticle",'
           '"author":{"@type":"ImageObject","name":"logo.png","url":"x"},'
           '"author":{"@type":"Person","name":"Jane Q"},'
           '"publisher":{"@type":"Organization","name":"Example News"},'
           '"articleSection":"Politics",'
           '"headline":"Big \\u0053tory" MALFORMED')
    meta = {k: None for k in ("author", "sitename", "title", "pagetype")}
    meta["categories"] = []
    out = _extract_json_parse_error(bad, meta)
    assert out["author"] == "Jane Q"          # not logo.png
    assert out["sitename"] == "Example News"
    assert out["pagetype"] == "newsarticle"
    assert out["categories"] == ["Politics"]
    # the reference's headline regex stops at the first backslash
    # ([^"\\]+), so the escaped char is excluded — reference-exact
    assert out["title"] == "Big"
    assert normalize_json(r"a <b>c</b>\n d") == "a c d"


def test_json_article_schema_complete():
    from trafilatura_spark.operators.metadata import (
        JSON_ARTICLE_SCHEMA, JSON_OGTYPE_SCHEMA)
    # the reference's full 20-type zoo (json_metadata.dart:36-60)
    assert len(JSON_ARTICLE_SCHEMA) == 20
    for t in ("techarticle", "jobposting", "satiricalarticle", "report",
              "blog", "discussionforumposting", "reviewnewsarticle"):
        assert t in JSON_ARTICLE_SCHEMA
    assert "faqpage" in JSON_OGTYPE_SCHEMA


def test_prune_patterns_css_selectors():
    """pruneXpath parity (core.dart:232-244): expressions are CSS
    selectors handed to querySelectorAll; invalid ones are skipped."""
    from trafilatura_spark.core import bare_extraction
    from trafilatura_spark.settings import Options
    html = _page(
        f'<article><p>{LONG_P1}</p>'
        f'<div class="promo-box extra"><p>Buy our product now with this '
        f'special limited offer available only today for readers of this '
        f'very article.</p></div>'
        f'<div id="ad-slot"><p>An advertisement block that should also '
        f'be removable by id selector in the options.</p></div>'
        f"<p>{LONG_P2}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False,
                                        prune_patterns=("div.promo-box",
                                                        "#ad-slot")))
    assert res.status == "ok"
    assert not any("Buy our product" in s["text"] for s in res.spans)
    assert not any("advertisement" in s["text"] for s in res.spans)
    assert any(LONG_P1[:30] in s["text"] for s in res.spans)
    # invalid selector: skipped without error (reference try/skip)
    res2 = bare_extraction(html, Options(with_metadata=False,
                                         prune_patterns=("div:::bad[",)))
    assert res2.status == "ok"


def test_justext_own_tail_text():
    """Non-leaf containers are classified on their *own* text (element
    text + descendant tails outside nested containers) — articles written
    as bare div text separated by <br> (world.kbs.co.kr shape) must reach
    the justext fallback.  Documented waiver vs external.dart:179 (SURVEY
    §2 row 2.7): the Dart port would classify the full subtree text and
    duplicate nested containers' content; here each piece of text is
    classified exactly once."""
    from trafilatura_spark.dom import parse_html, get_body
    from trafilatura_spark.operators.justext import classify_paragraphs

    article = ("After heavy downpours on Monday the morning was met with "
               "strong cold winds that brought early winter temperatures "
               "across most of the country according to the weather agency.")
    html = (f"<html><body><div class='wrap'>"
            f"<div class='photo'><p>Photo caption</p></div>"
            f"{article}<br/>More of the report follows after the break with "
            f"further details on the forecast for the coming days.</div>"
            f"</body></html>")
    paras = classify_paragraphs(get_body(parse_html(html)))
    good = [t for t, boiler in paras if not boiler]
    assert any("After heavy downpours" in t for t in good)
    # no duplication: the caption text appears in exactly one paragraph
    caption_hits = sum("Photo caption" in t for t, _ in paras)
    assert caption_hits == 1


def test_justext_own_text_link_density():
    """Own-text link density: a container whose own text is mostly link
    text is boilerplate even when a nested container holds a long
    article (the nested container is opaque to the parent)."""
    from trafilatura_spark.dom import parse_html, get_body
    from trafilatura_spark.operators.justext import classify_paragraphs

    html = ("<html><body><div id='nav'>"
            "<a href='/a'>Home sweet home page</a> <a href='/b'>About our "
            "team members</a> <a href='/c'>Contact and imprint page</a>"
            "<p>The actual article body lives here and it is long enough "
            "to be counted as a good paragraph by the classifier because "
            "it has many common stopwords in it.</p>"
            "</div></body></html>")
    paras = classify_paragraphs(get_body(parse_html(html)))
    by_text = {t[:20]: boiler for t, boiler in paras}
    # the p is good, the surrounding link-only own text is boilerplate
    assert any("The actual article b" in k and not v for k, v in by_text.items())
    assert any("Home sweet home page" in k and v for k, v in by_text.items())


def test_prune_patterns_xpath_expressions():
    """XPath prune expressions (upstream trafilatura's prune_xpath
    dialect: //tag[@attr="v"], contains(), unions) work via
    dom.xpath_to_css; out-of-subset expressions are skipped like any
    invalid selector (core.dart:236-243 try/skip)."""
    from trafilatura_spark.core import bare_extraction
    from trafilatura_spark.settings import Options
    html = _page(
        f'<article><p>{LONG_P1}</p>'
        f'<div class="promo-box"><p>Buy our product now with this special '
        f'limited offer available only today for readers right here.</p></div>'
        f'<div id="ad-slot-3"><p>An advertisement block that should be '
        f'removable by a contains() id expression too.</p></div>'
        f'<aside role="complementary"><p>Sidebar content to drop with an '
        f'attribute-presence predicate in the expression.</p></aside>'
        f"<p>{LONG_P2}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False,
        prune_patterns=('//div[@class="promo-box"]',
                        '//*[contains(@id, "ad-slot")]',
                        "//aside[@role]")))
    assert res.status == "ok"
    joined = " ".join(s["text"] for s in res.spans)
    assert "Buy our product" not in joined
    assert "advertisement" not in joined
    assert "Sidebar content" not in joined
    assert LONG_P1[:30] in joined
    # union syntax
    res2 = bare_extraction(html, Options(with_metadata=False,
        prune_patterns=('//div[@class="promo-box"] | //aside',)))
    j2 = " ".join(s["text"] for s in res2.spans)
    assert "Buy our product" not in j2 and "Sidebar content" not in j2
    assert "advertisement" in j2  # not pruned by this pattern
    # positional predicate: out of subset -> skipped, page still extracts
    res3 = bare_extraction(html, Options(with_metadata=False,
                                         prune_patterns=("//div[1]",)))
    assert res3.status == "ok"
    assert any("Buy our product" in s["text"] for s in res3.spans)


def test_xpath_to_css_translation_table():
    from trafilatura_spark.dom import xpath_to_css
    import pytest as _pytest
    table = {
        '//div[@class="ad"]': 'div[class="ad"]',
        '//*[contains(@id, "promo")]': '*[id*="promo"]',
        './/aside[@role]//p': 'aside[role] p',
        '//div[@class="a"][@id="b"]': 'div[class="a"][id="b"]',
        "//nav | //footer": "nav, footer",
        '//div[starts-with(@class, "share")]': 'div[class^="share"]',
        "//table//tr/td": "table tr > td",
        # '|' inside a quoted value is NOT a union separator
        '//div[@class="a|b"]': 'div[class="a|b"]',
        '//nav | //div[@class="x|y"]': 'nav, div[class="x|y"]',
    }
    for xp, css in table.items():
        assert xpath_to_css(xp) == css
    for bad in ("//div[1]", "//div/following-sibling::p",
                "/html/body/div", '//div[text()="x"]', "//"):
        with _pytest.raises(ValueError):
            xpath_to_css(bad)


def test_clean_copy_matches_sequential_on_fuzzed_soup():
    """clean_copy (fused copy+clean single walk) must be tree-exact
    against tree_cleaning(tree.copy()) and must leave the source tree
    untouched, across the tables/images/focus option matrix.  The same
    differential ran over all 1,033 reference pages x 12 combos before
    the fused form replaced the two-step one on the non-fast path."""
    import random

    from trafilatura_spark.core import get_body
    from trafilatura_spark.dom import parse_html
    from trafilatura_spark.operators.cleaning import clean_copy, tree_cleaning

    def dump(n):
        return (n.tag, tuple(sorted(n.attrs.items())), n.text, n.tail,
                tuple(dump(c) for c in n.children))

    rng = random.Random(4242)
    frags = ["<div>", "</div>", "<p>", "</p>", "<aside>", "</aside>",
             "<figure>", "</figure>", "<table><tr><td>c</td></tr></table>",
             "<tbody>", "</tbody>", "<img src='i'>", "<ins>x</ins>",
             "<span>", "</span>", "<span></span>", "text ", "tail ",
             "<footer>f</footer>", "<form><input></form>", "<b></b>",
             "<script>s</script>", "<meta x='y'>", "<li>", "</li>",
             "<picture><source></picture>", "<svg>v</svg>", " ", "&amp;"]
    opt_matrix = [Options(tables=t, images=i, focus=f)
                  for t in (True, False) for i in (True, False)
                  for f in ("balanced", "precision", "recall")]
    for _ in range(150):
        html = "<body>" + "".join(
            rng.choice(frags) for _ in range(rng.randint(0, 60))) + "</body>"
        tree = parse_html(html)
        for opts in opt_matrix:
            body = get_body(tree)
            before = dump(body)
            got = dump(clean_copy(body, opts))
            assert dump(body) == before, "clean_copy mutated its source"
            assert got == dump(tree_cleaning(body.copy(), opts))


def test_clean_copy_deep_strip_nesting_falls_back():
    """Adversarially nested strip-set tags must not crash (RecursionError
    guard falls back to the sequential two-step form).  The parser's
    implied-close rules flatten <tbody> soup, so the deep chain is built
    directly on Node objects to genuinely exercise the guard."""
    from trafilatura_spark.dom import Node
    from trafilatura_spark.operators.cleaning import clean_copy, tree_cleaning

    def deep_body() -> Node:
        body = Node("body")
        cur = body
        for _ in range(5000):
            nxt = Node("tbody")
            cur.append(nxt)
            cur = nxt
        leaf = Node("p")
        leaf.text = "deep"
        cur.append(leaf)
        return body

    opts = Options()
    got = clean_copy(deep_body(), opts)
    want = tree_cleaning(deep_body(), opts)
    assert got.text_content() == want.text_content() == "deep"


try:
    from hypothesis import given, settings as hyp_settings, strategies as st
    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False

if HAVE_HYP:
    # recursive Node strategy biased toward cleaning-relevant tags so the
    # strip/delete/retag/empties interactions all fire; texts include
    # whitespace-only strings (the empties prune keys on text.strip())
    _TAGS = ["div", "p", "span", "aside", "figure", "table", "tbody",
             "img", "ins", "footer", "b", "section", "li", "picture",
             "source", "form", "a", "em"]
    _TXT = st.text(alphabet=" x\n\t", max_size=6)

    def _node_strategy():
        from trafilatura_spark.dom import Node

        def build(children, tag, text, tail, cls):
            n = Node(tag, {"class": cls} if cls else {})
            n.text = text
            n.tail = tail
            for c in children:
                n.append(c)
            return n

        return st.recursive(
            st.builds(build, st.just([]), st.sampled_from(_TAGS),
                      _TXT, _TXT, st.sampled_from(["", "c1", "ad box"])),
            lambda kids: st.builds(
                build, st.lists(kids, max_size=5), st.sampled_from(_TAGS),
                _TXT, _TXT, st.sampled_from(["", "c1", "ad box"])),
            max_leaves=25)

    @given(st.lists(_node_strategy(), max_size=6),
           st.booleans(), st.booleans(),
           st.sampled_from(["balanced", "precision", "recall"]))
    @hyp_settings(max_examples=200, deadline=None)
    def test_clean_copy_property_matches_sequential(kids, tables, images, focus):
        """Property form of the clean_copy differential: for ARBITRARY
        trees over the cleaning-relevant tag set and the full option
        space, the fused walk must be tree-exact vs the two-step form
        and must leave its source untouched."""
        from trafilatura_spark.dom import Node
        from trafilatura_spark.operators.cleaning import (clean_copy,
                                                          tree_cleaning)

        def dump(n):
            return (n.tag, tuple(sorted(n.attrs.items())), n.text, n.tail,
                    tuple(dump(c) for c in n.children))

        body = Node("body")
        for k in kids:
            body.append(k)
        opts = Options(tables=tables, images=images, focus=focus)
        before = dump(body)
        got = dump(clean_copy(body, opts))
        assert dump(body) == before, "clean_copy mutated its source"
        assert got == dump(tree_cleaning(body.copy(), opts))


# -- readability one-pass metrics monoid (operators/readability.py) -----------

def _naive_metrics(node):
    """Ground-truth per-node values straight from the definitions the
    monoid pass replaces: len(trim(text_content())), text_content comma
    count, and the iterdesc('a')-including-self trimmed link total."""
    from trafilatura_spark.functions.textutils import trim
    text = node.text_content()
    links = sum(len(trim(a.text_content())) for a in node.iterdesc("a"))
    if node.tag == "a":
        links += len(trim(text))
    return len(trim(text)), text.count(","), links


def test_readability_metrics_monoid_real_pages(reference_dir):
    """_collect_metrics must agree with the naive per-node definitions on
    every node of a sample of real cache pages (whitespace seams, nested
    anchors, comments, script remnants all occur naturally there)."""
    from trafilatura_spark.operators.readability import _collect_metrics
    from trafilatura_spark.sources.loading import decode_file

    cache = reference_dir / "test" / "cache"
    if not cache.exists():
        import pytest
        pytest.skip("corpus missing")
    pages = sorted(cache.glob("*.html"))[::9][:13]
    for page in pages:
        tree = load_html(decode_file(page.read_bytes()))
        if tree is None:
            continue
        metrics = _collect_metrics(tree)
        stack = [tree]
        while stack:
            node = stack.pop()
            stack.extend(node.children)
            core, _, _, commas, links = metrics[id(node)]
            want = _naive_metrics(node)
            assert (core, commas, links) == want, (page.name, node.tag)


def test_readability_metrics_monoid_seams():
    """Constructed whitespace-seam edge cases: empty texts, whitespace-only
    pieces between non-empty ones, anchors inside anchors, tails."""
    from trafilatura_spark.operators.readability import _collect_metrics

    cases = [
        "<div><p>a</p><p>b</p></div>",
        "<div>  <p> a </p>x<p>b</p>  tail, here </div>",
        "<div><span></span><span> </span><span>c</span></div>",
        "<div><a href='#'>one <a href='#'>two</a> three</a> out</div>",
        "<div><b>x</b>,<i>y</i> <u>z</u></div>",
        "<div><p>\n\t</p><p>only</p><p>\n</p></div>",
        "<div>lead<span>\n</span>trail</div>",
    ]
    for html in cases:
        tree = load_html("<html><body>%s</body></html>" % html)
        metrics = _collect_metrics(tree)
        stack = [tree]
        while stack:
            node = stack.pop()
            stack.extend(node.children)
            core, _, _, commas, links = metrics[id(node)]
            assert (core, commas, links) == _naive_metrics(node), (html, node.tag)


def test_readability_candidate_outside_metrics_map():
    """A ReadabilityDocument built on a subtree still attached to a larger
    tree: a <p> whose parent IS self.doc promotes self.doc.parent to
    candidate, a node _collect_metrics(self.doc) never visited.  The
    pre-rewrite per-candidate walk scored any node; the one-pass metrics
    map must fall back to the direct walk instead of KeyError (which
    try_readability would silently swallow into an empty tier)."""
    from trafilatura_spark.operators.readability import (
        ReadabilityDocument, _collect_metrics)

    html = ("<html><body><div id='wrap'><div id='inner'>"
            "<p>This paragraph is long enough to clear the minimum text "
            "length gate, truly.</p>"
            "<p>Another sufficiently long paragraph with a comma, and "
            "some more words here.</p>"
            "</div></div></body></html>")
    tree = load_html(html)
    inner = next(n for n in tree.iterdesc("div")
                 if n.attrs.get("id") == "inner")
    assert inner.parent is not None
    # the outside node really is absent from the metrics map
    assert id(inner.parent) not in _collect_metrics(inner)
    # summary() consumes inner: the retry supplier copies a snapshot
    pristine = inner.copy()
    candidates = ReadabilityDocument(
        inner, refetch=pristine.copy)._score_paragraphs()
    assert id(inner.parent) in candidates  # the repro condition
    out = ReadabilityDocument(inner, refetch=pristine.copy).summary()
    assert out is not None and "long enough" in out.text_content()
