"""Exact-tree differential for the optional C tokenizer accelerator.

The C extension (trafilatura_spark/_chtml.c) must produce BYTE-IDENTICAL
trees to the pure-Python _FastBuilder on every input: same tags, attrs,
text, tails, structure.  Gates:

- the reference's 110-page live-site cache corpus (real-world HTML),
- a sample of the 923-page eval corpus,
- seeded adversarial tag soup (quote-parity seams, rawtext, charrefs,
  implied closes, head/body recovery, unicode pseudo-tags, sre
  casefold extras),
- Node.copy parity (C deep copy vs Python deep copy).

Skipped wholesale when the accelerator is unavailable (no gcc): the
pure-Python path is then the production path and is covered everywhere
else.
"""

import random

import pytest

from trafilatura_spark import dom
from trafilatura_spark.dom import Node, _FastBuilder

cparse = dom._CPARSE
ccopy = dom._CCOPY

pytestmark = pytest.mark.skipif(
    cparse is None, reason="C accelerator unavailable (no gcc?)")


# every _MetaWalk classification seam in one page
META_SEAM_PAGE = (
    "<body><h1 class='entry-title'>T</h1><h2 class='post-title'>U</h2>"
    "<span class='PUBLISHED on'>d</span><abbr class='entry-date'>e</abbr>"
    "<p class='post-date'>p</p><strong class='published'>no (tag)</strong>"
    "<div class='myfooter x'>f</div><div id='page-footer'>g</div>"
    "<footer>h</footer><span id='footer'>not a div</span></body>")

# one hit for each metadata selector: byline, category and tag links, a
# CC license link in a <footer>, <time> and abbr.published dates
META_SELECTOR_PAGE = (
    "<html><head><title>A title | Site</title></head><body>"
    "<h1 class='headline'>Head</h1><h2 itemprop='title'>Sub</h2>"
    "<div class='byline'>By <a rel='author' href='/u/jo'>Jo Ann</a>"
    "<span class='author-name'>Jo Ann</span></div>"
    "<div class='comments'><span class='author'>commenter</span></div>"
    "<section class='sidebar'><a href='/x'>side</a></section>"
    "<figure><figcaption>cap</figcaption></figure>"
    "<p>Posted <time datetime='2021-04-05'>April 5</time>"
    " <abbr class='published' title='2021-04-05T10:00'>then</abbr></p>"
    "<div class='entry-categories'><a href='/category/news/'>News</a>"
    "<a>no href</a></div><li id='cat-links-1'><a href='/category/b/'>B</a></li>"
    "<div class='row'><a href='/category/c/'>C</a></div>"
    "<p class='tags-links'><a href='/tag/spark/'>spark</a></p>"
    "<div class='entry-meta'><a href='/tags/html/'>html</a></div>"
    "<author>Inline Author</author>"
    "<footer><a href='https://creativecommons.org/licenses/by-sa/4.0/'>"
    "CC BY-SA 4.0</a></footer></body></html>")


def _template_pages() -> list[str]:
    """One generated page per build_input_spans template."""
    from trafilatura_spark.sources.corpus import (assemble_html,
                                                  build_input_spans)
    text = ("Spark extracts the main content of web pages. "
            "Each page keeps its own words, with commas, and so on. ") * 4
    return [assemble_html(build_input_spans(
        7000 + i, text, "en", "site", with_comments=True, template=t))
        for i, t in enumerate(("article", "bare", "fallback_readability",
                               "fallback_justext"))]


def tree_repr(node: Node) -> tuple:
    """Canonical deep value of a tree (iterative, order-preserving)."""
    return (node.tag, tuple(sorted(node.attrs.items())), node.text,
            node.tail, tuple(tree_repr(c) for c in node.children))


def assert_same(html: str) -> None:
    fb = _FastBuilder()
    fb.feed(html)
    croot = cparse(html)
    py = tree_repr(fb.root)
    cc = tree_repr(croot)
    assert py == cc, f"divergence on {html[:200]!r}"


def parents_consistent(node: Node, parent=None) -> None:
    assert node.parent is parent
    for c in node.children:
        parents_consistent(c, node)


def test_unit_cases():
    cases = [
        "",
        "plain text only",
        "<p>a</p>",
        "<html><head><title>t</title></head><body><p>x</p></body></html>",
        "<div><p>one<p>two</div>",
        "<ul><li>a<li>b</ul>",
        "<table><tr><td>1<td>2<tr><td>3</table>",
        "<thead><tr><th>h</th></tr><tbody><tr><td>v</td></tr>",
        "<dl><dt>t<dd>d<dt>t2</dl>",
        "<select><option>a<option>b</select>",
        "<p>a<b>bold<i>it</b>tail</p>",
        "<br/><img src='x'><hr>",
        "<a href='http://x/?a=1&amp;b=2'>l</a>",
        "text &amp; more &lt;notag&gt; &bogus; &#65;",
        "<script>if (a<b && c>d) { x('</div>'); }</script>after",
        "<script>no end",
        "<style>p>a{color:red}</style>",
        "<ScRiPt>x</sCrIpT>more",
        "<script>a</scripts><b>b</script>real",
        "<!-- comment <div>inside</div> -->after",
        "<!-- unterminated",
        "<!doctype html><p>x",
        "<?php echo 'x'; ?>after",
        "<?unclosed",
        "< p>not a tag</p>",
        "<p class='a\"b'>q</p>",
        '<meta content="a > b"><p>after</p>',
        "<p title=\"it's fine\">x</p>",
        "<p title='unterminated>x</p>",
        '<p title="unterminated>x</p>',
        "<div a=1 b = '2' c=\"3\" d e=>x</div>",
        "<div a=1 a=2>first wins</div>",
        "<div DATA-X='v' :custom='y' @click='z' _under='w'>x</div>",
        "<div a&b='v'>odd name</div>",
        "<p/>self<div />closed",
        "<html lang=en><head><meta x=1><div>implied body</div>",
        "<head><title>t</title>loose text",
        "<body>b</body>trailing",
        "</html><p>after premature</p>",
        "<html><body>x</body><p>after body</p></html>",
        "<html><html bgcolor=red><body><body b=2>dup merge",
        "<p>tail<",
        "<p>lone</",
        "<p>half</di",
        "<p>amp& alone &am; &#xZZ;</p>",
        "<é>unicode pseudo</é>",
        "<日本語 attr='v'>x",
        "<div é='v' aé=2>mixed attr names</div>",
        "<DIV CLASS=UPPER>x</DIV>",
        "<p> &nbsp; </p>",
        "<ſcript>sre casefold</ſcript>",
        "<script>x</ſcript>y</script>z",
        "<p>a</P ext>b",
        "</p junk>x",
        "</ >empty end",
        "<p><span a='1' b>c</span ></p>",
        "<figure><table><tr><td>x</table></figure>",
        "<p>a<div>closes p</div>b</p>c",
        "<blockquote><p>q</blockquote>",
        "<li>outside list",
        "<td>outside table",
        "<option>a<p>implied</option>",
        "x" * 5 + "<" + "y" * 5,
        "<p>" + "&" * 30 + "</p>",
        "<input value='<p>'>after",
        "<svg><circle r=1 /></svg>",
        "<math><mi>x</mi></math>",
        "<noscript><p>ns</p></noscript>",
        "<template><p>t</p></template>",
        "<title>x < y</title><p>b</p>",
    ]
    for html in cases:
        assert_same(html)


def test_cache_corpus_exact(reference_dir):
    from trafilatura_spark.sources.loading import decode_file
    cache = reference_dir / "test" / "cache"
    if not cache.exists():
        pytest.skip("corpus missing")
    for page in sorted(cache.glob("*.html")):
        html = decode_file(page.read_bytes())
        fb = _FastBuilder()
        fb.feed(html)
        croot = cparse(html)
        assert tree_repr(fb.root) == tree_repr(croot), page.name


def test_eval_corpus_sample_exact(reference_dir):
    from trafilatura_spark.sources.loading import decode_file
    ev = reference_dir / "test" / "eval"
    if not ev.exists():
        pytest.skip("corpus missing")
    pages = sorted(ev.glob("*.html"))[::7]  # ~130 spread across the set
    for page in pages:
        html = decode_file(page.read_bytes())
        fb = _FastBuilder()
        fb.feed(html)
        croot = cparse(html)
        assert tree_repr(fb.root) == tree_repr(croot), page.name


FRAGS = [
    "<div>", "</div>", "<p>", "</p>", "<a href='x'>", "</a>", "text ",
    "it's ", '<img src="i">', "<script>a<b</script>", "<!-- c -->",
    "<!doctype html>", "&amp;", "&bogus;", "< p", '<meta content="a > b">',
    "<td>", "</td>", "<table>", "</table>", "<li>", "<ul>", "'", '"', ">",
    "<", "é", "<p class='a\"b'>", "<br/>", "<span", "</nothere>", "<head>",
    "</head>", "<body>", "<html>", "<style>x{}</style>", "<ſcript>",
    "</ſcript>", "<SCRIPT>", "</SCRIPT >", "<option>", "<select>", "<dt>",
    "<dd>", "<tr>", "<th>", "<h2>", "</h2>", "=", "a=b", " disabled ",
    "<p a", "<p a=", "<p a='", '<p a="x', " ", " ", "<!",
    "<!->", "<?", "?>", "/>", "//", "<p/>", "<x:y z@w='1'>", "&#x41;",
    "&#65;", "&gt", "<日本>", "</p extra>", "<template>", "</template>",
]


def test_fuzz_differential():
    rng = random.Random(987654)
    for _ in range(4000):
        html = "".join(rng.choice(FRAGS)
                       for _ in range(rng.randint(0, 60)))
        assert_same(html)


def test_parents_wired():
    croot = cparse("<div><p>a<b>x</b></p><ul><li>i</li></ul></div>")
    parents_consistent(croot)


def test_copy_node_parity():
    html = ("<div a='1'><p>t<b>x</b>tail</p><ul><li>i1</li><li>i2</li></ul>"
            "<table><tr><td>c</td></tr></table>deep</div>")
    croot = cparse(html)
    c1 = ccopy(croot)
    assert tree_repr(c1) == tree_repr(croot)
    assert c1 is not croot
    assert c1.parent is None
    parents_consistent(c1)
    # mutation independence
    c1.children[0].attrs["a"] = "changed"
    assert croot.children[0].attrs["a"] == "1"
    # parity with the pure-Python copy
    fb = _FastBuilder()
    fb.feed(html)
    assert tree_repr(fb.root.copy() if ccopy is None else fb.root) \
        == tree_repr(croot)


def test_parse_html_integration_uses_accelerator():
    # end-to-end through parse_html: same html/body synthesis semantics
    from trafilatura_spark.dom import parse_html, get_body
    t = parse_html("<html><head><title>t</title><div>article</div>")
    body = get_body(t)
    assert [c.tag for c in body.children] == ["div"]
    assert body.text_content() == "article"


def test_text_content_and_find_all_parity(reference_pages):
    from trafilatura_spark.sources.loading import decode_file
    ctext = dom._CTEXT
    cfind = dom._CFINDALL
    if ctext is None:
        pytest.skip("accelerator unavailable")
    pages = reference_pages("cache")[:25]
    htmls = [decode_file(p.read_bytes()) for p in pages] + [
        "<div>a<span>b<em>c</em>d</span>e</div>f",
        "<p><b><i>J</i>ane</b> Doe</p>",
        "<ul><li>1</li><li>2<ol><li>2a</li></ol></li></ul>tail",
        "", "<p></p>", "just text",
    ]
    for html in htmls:
        root = cparse(html)
        # pure-Python reference implementations (accelerator bypassed)
        def py_text(node):
            parts = [node.text]
            stack = list(reversed(node.children))
            while stack:
                n = stack.pop()
                if type(n) is str:
                    parts.append(n)
                    continue
                parts.append(n.text)
                if n.tail:
                    stack.append(n.tail)
                if n.children:
                    stack.extend(reversed(n.children))
            return "".join(parts)

        def py_find_all(node, tags):
            want = set(tags) if tags else None
            out = []
            stack = list(reversed(node.children))
            while stack:
                n = stack.pop()
                if want is None or n.tag in want:
                    out.append(n)
                if n.children:
                    stack.extend(reversed(n.children))
            return out

        assert ctext(root) == py_text(root)
        for tags in ((), ("p",), ("div", "span"), ("li", "ol", "ul"),
                     ("nonexistent",), ("a", "b", "i", "em")):
            got = cfind(root, tags)
            want = py_find_all(root, tags)
            assert len(got) == len(want)
            assert all(a is b for a, b in zip(got, want))


def test_iter_tree_parity():
    citer = dom._CITER
    if citer is None:
        pytest.skip("accelerator unavailable")
    html = ("<div><p>a<b>x</b></p><ul><li>1</li><li>2<ol><li>2a</li></ol>"
            "</li></ul><table><tr><td>c</td></tr></table></div><p>z</p>")
    root = cparse(html)

    def py_order(node, tags, include_self):
        want = set(tags) if tags else None
        stack = [node] if include_self else list(reversed(node.children))
        out = []
        while stack:
            n = stack.pop()
            if want is None or n.tag in want:
                out.append(n)
            if n.children:
                stack.extend(reversed(n.children))
        return out

    for tags in ((), ("p",), ("li", "ol"), ("nope",), ("div", "td")):
        for inc in (True, False):
            got = list(citer(root, tags, inc))
            want = py_order(root, tags, inc)
            assert len(got) == len(want)
            assert all(a is b for a, b in zip(got, want))


def test_iter_tree_lazy_child_reads():
    """Generator laziness parity: a yielded node's children are read AFTER
    the consumer resumes, so surgery on the just-yielded node is visible —
    and iterdesc reads self.children only at the first next()."""
    root = cparse("<div><p>a</p><span>b</span></div>")
    div = root.children[0]  # cparse returns the raw '#root' node
    assert div.tag == "div"
    # drop the <p>'s subtree right after it is yielded: the Python
    # generator would not descend into it; neither must the C iterator
    seen = []
    for n in div.iterdesc():
        seen.append(n.tag)
        if n.tag == "p":
            n.children = [Node("em")]  # mutate after yield: visible
    assert seen == ["p", "em", "span"]
    # iterdesc created before a mutation sees the post-mutation children
    it = div.iterdesc()
    div.children = [Node("q")]
    assert [n.tag for n in it] == ["q"]


def test_filter_tuples_mirror_set_membership_semantics():
    """User filter tuples follow `tag in set(tags)`: non-str entries are
    hashable but never match (a str tag cannot equal an int), and
    unhashable entries raise TypeError exactly as set(tags) would —
    previously the C path returned with a pending exception here."""
    root = cparse("<div><p>a</p><span>b</span><p>c</p></div>")
    div = root.children[0]
    assert [n.tag for n in dom._CFINDALL(div, ("p", 123))] == ["p", "p"]
    assert dom._CFINDALL(div, (7,)) == []
    assert [n.tag for n in dom._CITER(div, ("p", 99), False)] == ["p", "p"]
    assert list(dom._CITER(div, (42,), True)) == []
    with pytest.raises(TypeError):
        dom._CFINDALL(div, ("p", []))
    with pytest.raises(TypeError):
        list(dom._CITER(div, ({},), False))


# ---------------------------------------------------------------------------
# round-5 walk primitives: clean_copy emit, metadata index, readability
# metrics — each must be VALUE-EXACT vs the pure-Python walk it replaces.

def _toggling(attr):
    """Run a callable under the Python path, then the C path."""
    import contextlib

    @contextlib.contextmanager
    def off():
        saved = getattr(dom, attr)
        setattr(dom, attr, None)
        try:
            yield
        finally:
            setattr(dom, attr, saved)
    return off


_CLEAN_CASES = [
    # deep strip-set nesting (span strips): text/tail sink ordering
    "<body><div>" + "<span>a" * 120 + "b" + "</span>" * 120 + "t</div></body>",
    # figure->div retag only when a table descendant exists
    "<body><figure><table><tr><td>x</td></tr></table></figure>"
    "<figure><img src='y'></figure>t</body>",
    # deletes whose tails merge into text vs last-child tail positions
    "<body><p>keep<script>gone</script> t1<aside>x</aside>t2</p></body>",
    # all-whitespace text and tails
    "<body><p>  </p><div>   <span>  </span>  ,  </div></body>",
    # empty / text-only documents
    "", "plain, text only  ",
]


def test_clean_copy_emit_parity(reference_pages):
    from trafilatura_spark.operators import cleaning as cl
    from trafilatura_spark.settings import Options
    from trafilatura_spark.core import load_html
    from trafilatura_spark.sources.loading import decode_file
    if dom._CCLEANCOPY is None:
        pytest.skip("accelerator unavailable")
    htmls = [decode_file(p.read_bytes())
             for p in reference_pages("cache")[:40]] + _CLEAN_CASES
    off = _toggling("_CCLEANCOPY")
    for html in htmls:
        tree = load_html(html)
        if tree is None:
            continue
        for tables in (True, False):
            for images in (True, False):
                for focus in ("balanced", "precision"):
                    opts = Options(tables=tables, images=images, focus=focus)
                    with off():
                        py = cl.clean_copy(tree.copy(), opts)
                    cc = cl.clean_copy(tree.copy(), opts)
                    assert tree_repr(py) == tree_repr(cc), \
                        (html[:80], tables, images, focus)
                    parents_consistent(cc)


def test_metadata_index_parity(reference_pages):
    from trafilatura_spark.operators import metadata as md
    from trafilatura_spark.core import load_html
    from trafilatura_spark.sources.loading import decode_file
    if dom._CMETAIDX is None:
        pytest.skip("accelerator unavailable")
    htmls = [decode_file(p.read_bytes())
             for p in reference_pages("cache")[:40]] + [
        META_SEAM_PAGE, META_SELECTOR_PAGE, "", "text only",
    ]
    off = _toggling("_CMETAIDX")
    for html in htmls:
        tree = load_html(html)
        if tree is None:
            continue
        with off():
            py = md._MetaWalk(tree)
        cc = md._MetaWalk(tree)
        assert list(py.buckets) == list(cc.buckets)
        for k in py.buckets:
            assert py.buckets[k] == cc.buckets[k], k
        assert py.title_classed == cc.title_classed
        assert py.date_classed == cc.date_classed
        assert py.license_containers == cc.license_containers


def test_collect_metrics_parity(reference_pages):
    from trafilatura_spark.operators import readability as rd
    from trafilatura_spark.core import load_html
    from trafilatura_spark.sources.loading import decode_file
    if dom._CMETRICS is None:
        pytest.skip("accelerator unavailable")
    htmls = [decode_file(p.read_bytes())
             for p in reference_pages("cache")[:40]] + [
        # comma counting, link cores, unicode + boundary whitespace
        "<body><p>a, b , c  <a href='#'>link,text</a> tail,</p></body>",
        "<body><div> <span> </span>x　</div></body>",
        "<body><a>outer<a>inner</a></a></body>",
        "", "only text, here",
    ]
    off = _toggling("_CMETRICS")
    for html in htmls:
        tree = load_html(html)
        if tree is None:
            continue
        with off():
            py = rd._collect_metrics(tree)
        cc = rd._collect_metrics(tree)
        assert py == cc
        # bool/int types must match too (downstream arithmetic + display)
        for k in py:
            assert [type(a) for a in py[k]] == [type(b) for b in cc[k]]


def test_bucket_by_tag_parity(reference_pages):
    from trafilatura_spark.operators import selectors as sel
    from trafilatura_spark.core import load_html
    from trafilatura_spark.sources.loading import decode_file
    if dom._CBUCKETS is None:
        pytest.skip("accelerator unavailable")
    htmls = [decode_file(p.read_bytes())
             for p in reference_pages("cache")[:40]] + [
        "<body><div><p>a</p><span>b</span></div><main><p>c</p></main></body>",
        "", "text only",
    ]
    tagsets = [("article", "div", "main", "section"),
               ("div", "item", "li", "p", "section", "span"), ()]
    off = _toggling("_CBUCKETS")
    for html in htmls:
        tree = load_html(html)
        if tree is None:
            continue
        for tags in tagsets:
            with off():
                py = sel._by_tag(tree, tags)
            cc = sel._by_tag(tree, tags)
            assert list(py) == list(cc)
            for k in py:
                assert py[k] == cc[k], k


def test_walk_primitives_fuzz_differential():
    """Seeded tag-soup fuzz over all four round-5 walk primitives, each
    arm vs its pure-Python walk — including RANDOM strip/delete sets for
    clean_copy (beyond the option-derived production sets) so the C walk
    is pinned on set combinations the option matrix never produces."""
    from trafilatura_spark.operators import metadata as md
    from trafilatura_spark.operators import readability as rd
    from trafilatura_spark.operators import selectors as sel
    from trafilatura_spark.core import load_html
    if dom._CCLEANCOPY is None:
        pytest.skip("accelerator unavailable")
    rng = random.Random(24680)
    pool = ["div", "p", "span", "a", "table", "figure", "li", "ul",
            "aside", "footer", "abbr", "em", "b"]
    off_idx = _toggling("_CMETAIDX")
    off_met = _toggling("_CMETRICS")
    off_bkt = _toggling("_CBUCKETS")
    for _ in range(400):
        html = "".join(rng.choice(FRAGS)
                       for _ in range(rng.randint(0, 80)))
        tree = load_html(html)
        if tree is None:
            continue
        strip_set = set(rng.sample(pool, rng.randint(0, 4)))
        delete_set = set(rng.sample(pool, rng.randint(0, 4)))
        retag = rng.random() < 0.5
        # compare the C primitive against a hand-rolled Python reference
        # of the SAME contract (emit walk only, no prune) so arbitrary
        # strip/delete sets are exercised, not just the option-derived
        # production sets
        def py_emit(src_tree):
            from trafilatura_spark.dom import Node
            new = Node.__new__
            root = new(Node)
            root.tag = src_tree.tag
            root.attrs = dict(src_tree.attrs) if src_tree.attrs else {}
            root.children = []
            root.parent = None
            root.text = src_tree.text
            root.tail = src_tree.tail

            def sink(dst, s):
                if s:
                    ch = dst.children
                    if ch:
                        ch[-1].tail += s
                    else:
                        dst.text += s

            stack = [(src_tree, root)]

            def emit(src, dst):
                append = dst.children.append
                for child in src.children:
                    tag = child.tag
                    if tag in strip_set:
                        sink(dst, child.text)
                        emit(child, dst)
                        sink(dst, child.tail)
                        continue
                    if retag and tag == "figure" and \
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
                        stack.append((child, c))

            while stack:
                s, d = stack.pop()
                emit(s, d)
            return root

        expect = py_emit(tree)
        got = dom._CCLEANCOPY(tree, strip_set, delete_set, retag)
        assert tree_repr(expect) == tree_repr(got), html[:120]
        parents_consistent(got)
        # the other three primitives on the same soup tree
        with off_idx():
            pyi = md._MetaWalk(tree)
        ci = md._MetaWalk(tree)
        assert all(pyi.buckets[k] == ci.buckets[k] for k in pyi.buckets)
        assert (pyi.title_classed, pyi.date_classed,
                pyi.license_containers) == \
               (ci.title_classed, ci.date_classed, ci.license_containers)
        with off_met():
            pym = rd._collect_metrics(tree)
        assert pym == rd._collect_metrics(tree)
        tags = tuple(rng.sample(pool, rng.randint(0, 5)))
        with off_bkt():
            pyb = sel._by_tag(tree, tags)
        cb = sel._by_tag(tree, tags)
        assert list(pyb) == list(cb) and \
            all(pyb[k] == cb[k] for k in pyb)


def test_table_hit_and_attr_pair_parity(reference_pages):
    """C predicate seam (selectors._hit/_hit_m/_class_id) vs the
    regex/pure-Python path: seeded fuzz over every production pattern
    table (with real patterns spliced in), plus full selector-function
    parity over a cache-corpus sample and pages built here."""
    from trafilatura_spark.operators import metadata as md
    from trafilatura_spark.operators import selectors as sel
    from trafilatura_spark.core import load_html
    from trafilatura_spark.sources.loading import decode_file
    if dom._CTABLEHIT is None:
        pytest.skip("accelerator unavailable")
    rng = random.Random(424242)
    alpha = "abcdefghij -_:/.é中"
    tables = [sel._BODY_CLASS_RE, sel._BODY_ID_RE, sel._SECONDARY_BODY_RE,
              sel._CONTENT_CLASS_RE, sel._COMMENTS_CLASS_RE,
              sel._OVERALL_DISCARD_RE, sel._HIDDEN_RE, sel._AUTHOR_RE,
              sel._AUTHOR_DISCARD_RE, sel._CATEGORY_CLASS_RE,
              sel._TAG_CLASS_RE, sel._TITLE_CLASS_RE]
    for _ in range(5000):
        s = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        t = rng.choice(tables)
        if rng.random() < 0.3:
            p = rng.choice(t.patterns)
            i = rng.randint(0, len(s))
            s = s[:i] + p + s[i:]
        assert dom._CTABLEHIT(t.cache, t.patterns, s, False) == \
            (t.regex.search(s) is not None), s
        assert dom._CTABLEHIT(t.cache_m, t.patterns, s, True) == \
            (t.regex.match(s) is not None), s
    # attr_pair on mixed-case / missing / unicode attrs
    tree = load_html("<body><div class='Nav-BAR É' id='X1'>a</div>"
                     "<p id='only-ID'>b</p><span class='lower'>c</span>"
                     "<em>none</em></body>")
    for elem in tree.iterdesc():
        py = (elem.attrs.get("class", "").lower(),
              elem.attrs.get("id", "").lower())
        assert dom._CATTRPAIR(elem) == py, elem.tag
    # full selector functions, C vs Python paths, over real pages and
    # the pages built here; the metadata selectors read one shared walk
    # per page, as extract_metadata calls them
    tree_fns = [sel.select_body_elements, sel.select_comment_elements,
                sel.select_elements_to_discard, sel.select_teasers_to_discard,
                sel.select_precision_discard_elements,
                sel.select_overall_discard_elements,
                sel.select_basic_clean_elements]
    walk_fns = [
        ("select_author_elements",
         lambda w: sel.select_author_elements(w.buckets)),
        ("select_author_discard_elements",
         lambda w: sel.select_author_discard_elements(w.buckets)),
        ("select_cats_tags_links",
         lambda w: sel.select_cats_tags_links(w.buckets)),
        ("select_title_elements",
         lambda w: sel.select_title_elements(w.buckets, w.title_classed)),
    ]
    pages = [(p.name, decode_file(p.read_bytes()))
             for p in reference_pages("cache")[:30]]
    pages += [("META_SEAM_PAGE", META_SEAM_PAGE),
              ("META_SELECTOR_PAGE", META_SELECTOR_PAGE)]
    pages += [(f"template{i}", h) for i, h in enumerate(_template_pages())]
    hits = {name: 0 for name, _ in walk_fns}
    for name, html in pages:
        tree = load_html(html)
        if tree is None:
            continue
        walk = md._MetaWalk(tree)
        calls = [(fn.__name__, lambda fn=fn: fn(tree)) for fn in tree_fns]
        calls += [(fname, lambda fn=fn: fn(walk)) for fname, fn in walk_fns]
        for fname, call in calls:
            sv = (dom._CTABLEHIT, dom._CATTRPAIR)
            dom._CTABLEHIT = dom._CATTRPAIR = None
            try:
                py = call()
            finally:
                dom._CTABLEHIT, dom._CATTRPAIR = sv
            got = call()
            assert py == got, (name, fname)
            if fname in hits and any(got):
                hits[fname] += 1
    # the built pages alone give every metadata selector a hit
    assert all(hits.values()), hits


def test_table_verdict_caches_bounded():
    """Each per-table verdict cache clears at selectors.TABLE_CACHE_MAX on
    both paths, and all tables' caches together stay within 2^18
    entries."""
    from trafilatura_spark.operators import selectors as sel
    cap = sel.TABLE_CACHE_MAX
    tables = [v for v in vars(sel).values() if isinstance(v, sel._Table)]
    assert 2 * len(tables) * cap <= 1 << 18
    # cap distinct probes fill a cache; the next one clears it first
    probes = [f"s{i}" for i in range(cap + 1)]
    t = sel._Table(["zz"])
    sv = dom._CTABLEHIT
    dom._CTABLEHIT = None
    try:
        for s in probes:
            sel._hit(t, s)
            sel._hit_m(t, s)
    finally:
        dom._CTABLEHIT = sv
    assert len(t.cache) == len(t.cache_m) == 1
    if dom._CTABLEHIT is not None:
        cache = {}
        for s in probes:
            dom._CTABLEHIT(cache, t.patterns, s, False)
        assert len(cache) == 1


def test_readability_walks_parity(reference_pages):
    """C collection walks behind _transform_misused_divs and
    _remove_unlikely_candidates vs the pure-Python passes: full
    ReadabilityDocument.summary() tree equality over cache pages plus
    constructed seams (nested no-markup divs, brs at multiple depths,
    unlikely/maybe class collisions, frame-tag guards)."""
    from trafilatura_spark.operators import readability as rd
    from trafilatura_spark.core import load_html
    from trafilatura_spark.sources.loading import decode_file
    if dom._CDIVS is None:
        pytest.skip("accelerator unavailable")
    htmls = [decode_file(p.read_bytes())
             for p in reference_pages("cache")[:40]] + [
        "<body><div><div>plain text only</div></div>"
        "<div><p>has markup</p></div></body>",
        "<body><div>a<br>b<div>c<br>d</div></div><br>outside</body>",
        "<body><div class='sidebar comment'>drop</div>"
        "<div class='sidebar article'>maybe saves</div>"
        "<div id='footer-x'>x</div><p class='tweet'>t</p></body>",
        "<body class='sidebar'>frame tag survives"
        "<div class='x'><span class='rss'>inner drop</span></div></body>",
    ]
    sv = ("_CDIVS", "_CBRS", "_CUNLIKELY")
    for html in htmls:
        tree = load_html(html)
        if tree is None:
            continue
        t1, t2 = tree.copy(), tree.copy()
        saved = [getattr(dom, a) for a in sv]
        for a in sv:
            setattr(dom, a, None)
        try:
            r_py = rd.ReadabilityDocument(
                t1, min_text_length=25, retry_length=250,
                refetch=tree.copy).summary()
        finally:
            for a, v in zip(sv, saved):
                setattr(dom, a, v)
        r_c = rd.ReadabilityDocument(
            t2, min_text_length=25, retry_length=250,
            refetch=tree.copy).summary()
        if r_py is None or r_c is None:
            assert r_py is None and r_c is None, html[:80]
        else:
            assert tree_repr(r_py) == tree_repr(r_c), html[:80]


def test_deep_tree_stress_all_primitives():
    """Every C primitive is fully iterative: trees nested far beyond any
    recursion limit (30k element depth, 20k strip-set nesting) must pass
    through parse, copy, clean-copy, metadata index, metrics fold,
    bucketing and the readability walks without C-stack recursion."""
    from trafilatura_spark.core import load_html
    from trafilatura_spark.settings import Options
    from trafilatura_spark.operators import cleaning as cl
    from trafilatura_spark.operators import metadata as md
    from trafilatura_spark.operators import readability as rd
    from trafilatura_spark.operators import selectors as sel
    if dom._CCLEANCOPY is None:
        pytest.skip("accelerator unavailable")
    depth = 30_000
    html = ("<html><body>" + "<div>" * depth + "x" + "</div>" * depth
            + "<p>pad</p></body></html>")
    tree = load_html(html)
    assert tree is not None
    assert tree.copy() is not None
    assert cl.clean_copy(tree, Options()) is not None
    md._MetaWalk(tree)
    assert len(rd._collect_metrics(tree)) == depth + 4
    assert len(sel._by_tag(tree, ("div",))["div"]) == depth
    assert len(dom._CDIVS(tree, ("a", "p"))) == depth
    dom._CBRS(tree)
    dom._CUNLIKELY(tree, {}, lambda k: False, ("body", "html"))
    # strip-set nesting drives the clean-copy frames stack specifically
    sdepth = 20_000
    html2 = ("<html><body>" + "<span>" * sdepth + "y" + "</span>" * sdepth
             + "<p>pad</p></body></html>")
    t2 = load_html(html2)
    out = dom._CCLEANCOPY(t2, {"span"}, set(), False)
    body = [c for c in out.children if c.tag == "body"]
    assert body and body[0].text == "y"


def test_walk_primitives_mutated_slot_robustness():
    """Review findings: caller-mutated non-str attrs/text/tail slots must
    not crash the C walks — falsy non-str behaves as empty (mirroring the
    Python `if x:` guards), truthy non-str raises instead of reading an
    int as a unicode object; an EMPTY pattern table matches everything,
    like the regex fallback's empty alternation."""
    from trafilatura_spark.dom import parse_html
    from trafilatura_spark.operators import readability as rd
    from trafilatura_spark.operators import selectors as sel
    if dom._CUNLIKELY is None:
        pytest.skip("accelerator unavailable")
    # non-str attr value through unlikely_walk: same surviving tags as
    # the pure-Python walk
    def build():
        t = parse_html("<html><body><div>x</div><p>y</p></body></html>")
        t.find("div").attrs["class"] = 5
        return t
    t_c, t_py = build(), build()
    sv = dom._CUNLIKELY
    dom._CUNLIKELY = None
    try:
        rd.ReadabilityDocument(t_py, refetch=build)._remove_unlikely_candidates()
    finally:
        dom._CUNLIKELY = sv
    rd.ReadabilityDocument(t_c, refetch=build)._remove_unlikely_candidates()
    assert [n.tag for n in t_c.find_all()] == [n.tag for n in t_py.find_all()]
    # None text/tail: falsy == empty through metrics and clean-copy
    t = parse_html("<html><body><p>x</p></body></html>")
    t.find("p").text = None
    assert rd._collect_metrics(t)
    t = parse_html("<html><body><p>x<span>s</span></p></body></html>")
    t.find("span").tail = None
    assert dom._CCLEANCOPY(t, {"span"}, set(), False) is not None
    # truthy non-str raises (the Python fold raises at t.split() too)
    t = parse_html("<html><body><p>x</p></body></html>")
    t.find("p").text = 7
    with pytest.raises(TypeError):
        rd._collect_metrics(t)
    # empty pattern table: match-everything on both paths
    empty = sel._Table([])
    assert dom._CTABLEHIT(empty.cache, empty.patterns, "anything", False)
    assert dom._CTABLEHIT(empty.cache_m, empty.patterns, "anything", True)
    assert empty.regex.search("anything") is not None
