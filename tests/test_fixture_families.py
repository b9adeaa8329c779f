"""selector_stress / density_stress / metadata_html fixture families
(FIXTURES.md §3) + property-based parser robustness."""

import pytest

from trafilatura_spark.core import bare_extraction, load_html
from trafilatura_spark.dom import get_body, parse_html
from trafilatura_spark.operators.metadata import extract_metadata
from trafilatura_spark.operators.selectors import select_body_elements
from trafilatura_spark.settings import Options

LONG = ("Sufficiently long article content repeated here so that every size "
        "threshold the engine applies is comfortably cleared in all cases. ")


def _page(body: str, head: str = "") -> str:
    return f"<html><head><title>t</title>{head}</head><body>{body}</body></html>"


# -- selector_stress: one doc per candidate tier ------------------------------

TIERS = [
    ('<div class="post-content"><p>{p}</p></div>', "tier1-class"),
    ('<div id="article-body"><p>{p}</p></div>', "tier1-id"),
    ('<div itemprop="articleBody"><p>{p}</p></div>', "tier1-itemprop"),
    ("<article><p>{p}</p></article>", "tier2-article"),
    ('<div class="story-content"><p>{p}</p></div>', "tier3-secondary"),
    ('<div role="article"><p>{p}</p></div>', "tier3-role"),
    ('<div class="main-content"><p>{p}</p></div>', "tier4-content"),
    ('<div id="content"><p>{p}</p></div>', "tier4-exact"),
    ('<div class="mainbar"><p>{p}</p></div>', "tier5-mainprefix"),
    ("<main><p>{p}</p></main>", "tier5-main"),
]


@pytest.mark.parametrize("tmpl,name", TIERS)
def test_selector_tier_finds_candidate(tmpl, name):
    html = _page("<div class='other'><p>decoy text that should lose</p></div>"
                 + tmpl.format(p=LONG * 3))
    tree = load_html(html)
    cands = select_body_elements(get_body(tree))
    assert len(cands) == 1, name
    assert LONG[:30] in cands[0].text_content(), name


def test_first_match_wins_order():
    html = _page('<div class="post-content"><p>first candidate body</p></div>'
                 '<article><p>second candidate body</p></article>')
    cands = select_body_elements(get_body(load_html(html)))
    assert "first candidate" in cands[0].text_content()


# -- density_stress: link-density thresholds both sides -----------------------

def _density_page(n_link_chars: int, n_plain_chars: int) -> str:
    link_text = "x" * n_link_chars
    plain = "y" * n_plain_chars
    return _page(
        f"<article><p>{LONG * 3}</p>"
        f'<p>{plain}<a href="/l">{link_text}</a></p>'
        f"<p>{LONG * 3}</p></article>")


def test_link_dense_paragraph_pruned():
    # short p, link text > 0.8 of total → boilerplate
    res = bare_extraction(_density_page(45, 5), Options(with_metadata=False))
    assert not any("xxxxx" in s["text"] for s in res.spans)


def test_link_light_paragraph_kept():
    # link well under the density threshold on a long paragraph → kept
    html = _page(
        f"<article><p>{LONG * 3}</p>"
        f'<p>{"y" * 400}<a href="/l">tiny</a></p>'
        f"<p>{LONG * 3}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False))
    assert any("yyyy" in s["text"] for s in res.spans)


def test_link_farm_list_pruned():
    farm = "".join(f'<li><a href="/{i}">link {i}</a></li>' for i in range(12))
    html = _page(f"<article><p>{LONG * 3}</p><ul>{farm}</ul>"
                 f"<p>{LONG * 3}</p></article>")
    res = bare_extraction(html, Options(with_metadata=False))
    assert not any("link 3" in s["text"] for s in res.spans)


# -- metadata_html: JSON-LD + og + twitter fallbacks --------------------------

def test_json_ld_metadata():
    head = ('<script type="application/ld+json">'
            '{"@context": "https://schema.org", "@type": "NewsArticle",'
            ' "headline": "LD Headline", '
            '"author": {"@type": "Person", "name": "Jane Q. Writer"},'
            ' "publisher": {"@type": "Organization", "name": "LD Site"}}'
            "</script>")
    html = _page(f"<article><p>{LONG * 4}</p></article>", head=head)
    meta = extract_metadata(load_html(html))
    assert meta["title"] == "LD Headline"
    # normalize_authors strips periods (json_metadata.dart:97-123)
    assert meta["author"] == "Jane Q Writer"
    assert meta["sitename"] == "LD Site"


def test_json_ld_author_name_assembly():
    head = ('<script type="application/ld+json">'
            '{"@type": "Article", "author": {"@type": "Person",'
            ' "givenName": "Ada", "familyName": "Lovelace"}}</script>')
    meta = extract_metadata(load_html(_page("<p>x</p>", head=head)))
    assert meta["author"] == "Ada Lovelace"


def test_malformed_json_ld_regex_salvage():
    head = ('<script type="application/ld+json">'
            '{"@type": "Article", "author": {"name": "Broken Parse",}'
            "</script>")  # trailing comma + truncated → json.loads fails
    meta = extract_metadata(load_html(_page("<p>x</p>", head=head)))
    assert meta["author"] == "Broken Parse"


def test_og_beats_meta_name():
    head = ('<meta property="og:title" content="OG Title"/>'
            '<meta name="title" content="Plain Title"/>')
    meta = extract_metadata(load_html(_page("<p>x</p>", head=head)))
    assert meta["title"] == "OG Title"


def test_twitter_fallbacks():
    head = ('<meta name="twitter:title" content="TW Title"/>'
            '<meta name="twitter:description" content="TW Desc"/>')
    meta = extract_metadata(load_html(_page("<p>x</p>", head=head)))
    assert meta["title"] == "TW Title"
    assert meta["description"] == "TW Desc"


def test_author_blacklist():
    def author(body, head="", blacklist=("admin",)):
        return extract_metadata(load_html(_page(body, head=head)),
                                author_blacklist=frozenset(blacklist))["author"]

    head = '<meta name="author" content="Admin"/>'
    assert not author("<p>x</p>", head)
    # meta branch: one name of a multi-author value is dropped
    multi = '<meta name="author" content="Jane Roe; Admin"/>'
    assert author("<p>x</p>", multi) == "Jane Roe"
    assert author("<p>x</p>", multi, blacklist=()) == "Jane Roe; Admin"
    assert author("<p>x</p>", multi, blacklist=("admin", "JANE ROE")) is None
    # a blacklisted meta author falls through to the DOM byline
    byline = '<p class="byline">By <span class="author">Jane Roe</span></p>'
    site = '<meta name="author" content="Site Admin"/>'
    assert author(byline + "<p>x</p>", site, ("Site Admin",)) == "Jane Roe"
    # byline branch: the same filter applies to the DOM author
    assert author(byline + "<p>x</p>", blacklist=("jane roe",)) is None
    assert author('<div class="author">Jane Roe; Admin</div><p>x</p>') \
        == "Jane Roe"


# -- property-based robustness ------------------------------------------------

try:
    from hypothesis import given, settings as hyp_settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False


if HAVE_HYP:
    html_chunks = st.lists(
        st.one_of(
            st.text(max_size=30),
            st.sampled_from([
                "<p>", "</p>", "<div class='a b'>", "</div>", "<br/>",
                "<img src='x'>", "<!-- c -->", "<script>var a=1;</script>",
                "<a href='/x'>", "</a>", "<table><tr><td>", "</td></tr>",
                "<html/>", "<!DOCTYPE html>", "&amp;", "&#65;", "<", ">",
                "</nothere>", "<p", "='", '"', "<ul><li>", "</li></ul>",
            ]),
        ), max_size=40)

    @given(html_chunks)
    @hyp_settings(max_examples=250, deadline=None)
    def test_parser_never_crashes_and_invariants(chunks):
        doc = "".join(chunks)
        tree = parse_html(doc)
        assert tree.tag == "html"
        body = get_body(tree)
        # structural invariants: parent pointers consistent, no cycles
        seen = set()
        stack = [body]
        while stack:
            node = stack.pop()
            assert id(node) not in seen
            seen.add(id(node))
            for child in node.children:
                assert child.parent is node
                stack.append(child)

    @given(html_chunks)
    @hyp_settings(max_examples=100, deadline=None)
    def test_extraction_never_raises(chunks):
        doc = "<html><body>" + "".join(chunks) + "</body></html>"
        res = bare_extraction(doc, Options(min_file_size=1,
                                           with_metadata=True))
        assert res.status in ("ok", "empty", "rejected", "error")
        for i, s in enumerate(res.spans):
            assert s["offset"] == i
