"""Lightweight, lxml-free HTML DOM for the extraction UDF.

The reference parses HTML with the Dart ``html`` package
(/root/reference/lib/src/utils.dart:194-235).  Spark executors run pure
Python, so we build a minimal tree with one tokenizer per accelerator
path: the C ``_chtml.parse`` when the extension loads, its pure-Python
twin :class:`_FastBuilder` otherwise.  Both apply the html5-recovery
behaviors the extraction cascade relies on: implicit paragraph/list-item
closing, void elements, lowercase tag/attribute names, and synthesized
``<html>``/``<body>`` roots.

The node model follows lxml semantics (``text`` before the first child,
``tail`` after the closing tag) because the reference's tree surgery
(strip-tag, delete-keeping-tail, xml_utils.dart:65-110) is defined in
those terms.
"""

from __future__ import annotations

import re as _re_mod
from html import unescape as _unescape

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Tags whose open implicitly closes an open <p> (html5 spec subset).
_P_CLOSERS = frozenset(
    "address article aside blockquote details dialog div dl dt dd fieldset figcaption "
    "figure footer form h1 h2 h3 h4 h5 h6 header hr main menu nav ol p pre section "
    "table ul".split()
)

_P_CLOSE_BARRIERS = frozenset(
    ("div", "td", "th", "li", "body", "html", "#root",
     "article", "section", "main", "blockquote"))

# element -> set of open elements it implicitly closes
_IMPLIED_END = {
    "li": frozenset(["li"]),
    "dt": frozenset(["dt", "dd"]),
    "dd": frozenset(["dt", "dd"]),
    "tr": frozenset(["tr", "td", "th"]),
    "td": frozenset(["td", "th"]),
    "th": frozenset(["td", "th"]),
    "option": frozenset(["option"]),
    "thead": frozenset(["tbody", "tfoot"]),
    "tbody": frozenset(["thead", "tbody", "tfoot"]),
    "tfoot": frozenset(["thead", "tbody"]),
}

# Tags allowed inside <head> (html5 "in head" insertion mode); any other
# start tag or non-whitespace text implicitly closes head and opens body.
_HEAD_CONTENT = frozenset(
    "head base basefont bgsound link meta title noscript noframes style "
    "script template".split()
)

# start tags that may need implied-end handling (everything else skips the
# _implied_close call entirely on the fast path)
_NEEDS_IMPLIED = _P_CLOSERS | frozenset(_IMPLIED_END)
# start tags subject to the duplicate-merge gate
_GATE_TAGS = frozenset(("html", "body"))
# raw-text end-tag scan: html5 requires a delimiter after the name
_RAWTEXT_END = {
    "script": _re_mod.compile(r"</script[\s/>]", _re_mod.I),
    "style": _re_mod.compile(r"</style[\s/>]", _re_mod.I),
}

# Optional C accelerator (wired at the bottom of this module once Node and
# the insertion-mode tables exist; None when gcc/the build is unavailable).
_CPARSE = None
_CCOPY = None
_CTEXT = None
_CFINDALL = None
_CITER = None
_CCLEANCOPY = None
_CMETAIDX = None
_CMETRICS = None
_CBUCKETS = None
_CTABLEHIT = None
_CATTRPAIR = None
_CDIVS = None
_CBRS = None
_CUNLIKELY = None


class Node:
    """One element. ``text`` = text before first child, ``tail`` = text after
    this element's close tag (lxml model)."""

    __slots__ = ("tag", "attrs", "children", "parent", "text", "tail")

    def __init__(self, tag: str, attrs: dict | None = None, parent: "Node | None" = None):
        self.tag = tag
        self.attrs = attrs if attrs is not None else {}
        self.children: list[Node] = []
        self.parent = parent
        self.text: str = ""
        self.tail: str = ""

    # -- attribute helpers -------------------------------------------------
    def get(self, name: str, default: str | None = None) -> str | None:
        return self.attrs.get(name, default)

    def set(self, name: str, value: str) -> None:
        self.attrs[name] = value

    @property
    def class_name(self) -> str:
        return self.attrs.get("class", "")

    # -- tree navigation ---------------------------------------------------
    def iter(self, *tags: str):
        """Pre-order iteration including self; optionally filter by tag."""
        # NOT a generator function itself: the C iterator must be returned
        # directly (an early `return x` inside a generator body would be
        # swallowed into StopIteration.value)
        if _CITER is not None:
            return _CITER(self, tags, True)
        return self._iter_py(tags)

    def _iter_py(self, tags):
        stack = [self]
        want = set(tags) if tags else None
        pop = stack.pop
        extend = stack.extend
        while stack:
            node = pop()
            if want is None or node.tag in want:
                yield node
            if node.children:
                extend(reversed(node.children))

    def iterdesc(self, *tags: str):
        """Pre-order iteration of descendants (excluding self)."""
        if _CITER is not None:
            return _CITER(self, tags, False)
        return self._iterdesc_py(tags)

    def _iterdesc_py(self, tags):
        stack = list(reversed(self.children))
        want = set(tags) if tags else None
        pop = stack.pop
        extend = stack.extend
        while stack:
            node = pop()
            if want is None or node.tag in want:
                yield node
            if node.children:
                extend(reversed(node.children))

    def find_all(self, *tags: str) -> list["Node"]:
        # explicit loop: full-scan callers skip generator resume overhead
        if _CFINDALL is not None:
            return _CFINDALL(self, tags)
        want = set(tags) if tags else None
        out: list[Node] = []
        append = out.append
        stack = list(reversed(self.children))
        pop = stack.pop
        extend = stack.extend
        while stack:
            node = pop()
            if want is None or node.tag in want:
                append(node)
            if node.children:
                extend(reversed(node.children))
        return out

    def find(self, *tags: str) -> "Node | None":
        for node in self.iterdesc(*tags):
            return node
        return None

    def next_sibling(self) -> "Node | None":
        if self.parent is None:
            return None
        sibs = self.parent.children
        try:
            i = sibs.index(self)
        except ValueError:
            return None
        return sibs[i + 1] if i + 1 < len(sibs) else None

    # -- text --------------------------------------------------------------
    def text_content(self) -> str:
        """All text of self and descendants in DOCUMENT ORDER (lxml
        ``text_content`` semantics: own tail NOT included, descendant
        tails included).  A node's tail comes after its whole subtree, so
        it is pushed before the children on the work stack (plain strings
        on the stack are emit-later markers)."""
        if _CTEXT is not None:
            return _CTEXT(self)
        parts = [self.text]
        stack: list = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if type(node) is str:
                parts.append(node)
                continue
            parts.append(node.text)
            if node.tail:
                stack.append(node.tail)
            if node.children:
                stack.extend(reversed(node.children))
        return "".join(parts)

    def itertext(self):
        yield self.text
        stack: list = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if type(node) is str:
                yield node
                continue
            yield node.text
            if node.tail:
                stack.append(node.tail)
            if node.children:
                stack.extend(reversed(node.children))

    # -- surgery -----------------------------------------------------------
    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    def drop_tree(self, keep_tail: bool = True) -> None:
        """Remove self + descendants; optionally merge the tail into the
        preceding text position (xml_utils.dart:65-110 deleteElement)."""
        parent = self.parent
        if parent is None:
            return
        idx = parent.children.index(self)
        if keep_tail and self.tail:
            if idx > 0:
                prev = parent.children[idx - 1]
                prev.tail += self.tail
            else:
                parent.text += self.tail
        del parent.children[idx]
        self.parent = None

    def strip_self(self) -> None:
        """Remove this tag but keep its content in place
        (htmlprocessing.dart:101-114 _stripTag)."""
        parent = self.parent
        if parent is None:
            return
        idx = parent.children.index(self)
        # own text goes to previous sibling tail / parent text
        lead = self.text
        if lead:
            if idx > 0:
                parent.children[idx - 1].tail += lead
            else:
                parent.text += lead
        for child in self.children:
            child.parent = parent
        tail = self.tail
        parent.children[idx:idx + 1] = self.children
        # tail attaches after last moved child, or merges where text went
        if tail:
            end = idx + len(self.children)
            if end > 0 and len(self.children) > 0:
                parent.children[end - 1].tail += tail
            elif idx > 0:
                parent.children[idx - 1].tail += tail
            else:
                parent.text += tail
        self.children = []
        self.parent = None

    def copy(self) -> "Node":
        # iterative deep copy (call-per-node recursion was a hot spot on
        # real pages: tree surgery rollbacks copy whole subtrees);
        # __new__ + direct slot writes skip the __init__ dispatch, which
        # dominated per-node cost at ~300k copied nodes per real batch
        if _CCOPY is not None:
            return _CCOPY(self)
        new = Node.__new__
        root = new(Node)
        root.tag = self.tag
        root.attrs = dict(self.attrs) if self.attrs else {}
        root.children = []
        root.parent = None
        root.text = self.text
        root.tail = self.tail
        stack = [(self, root)]
        pop = stack.pop
        while stack:
            src, dst = pop()
            if not src.children:
                continue
            append = dst.children.append
            for child in src.children:
                c = new(Node)
                c.tag = child.tag
                c.attrs = dict(child.attrs) if child.attrs else {}
                c.children = []
                c.parent = dst
                c.text = child.text
                c.tail = child.tail
                append(c)
                if child.children:
                    stack.append((child, c))
        return root

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Node {self.tag} attrs={self.attrs} children={len(self.children)}>"


def strip_tags(tree: Node, *tags: str) -> None:
    """Strip all matching descendant tags, keeping content
    (main_extractor.dart:40-56)."""
    want = set(tags)
    # one snapshot suffices: strip_self keeps descendants attached (so
    # nested matches are already in the snapshot) and tag names never
    # change — a fixpoint re-scan can't find anything new
    for node in [n for n in tree.iterdesc() if n.tag in want]:
        if node.parent is not None:
            node.strip_self()


def strip_elements(tree: Node, *tags: str, keep_tail: bool = True) -> None:
    """Delete matching descendants and their content (main_extractor.dart:59-63)."""
    for node in [n for n in tree.iterdesc(*tags)]:
        if node.parent is not None:
            node.drop_tree(keep_tail=keep_tail)


class _FastBuilder:
    """Single-scan HTML tokenizer + tree builder.

    The pure-Python twin of ``_chtml.parse`` (the differential oracle in
    tests/test_chtml.py and the parser on hosts without gcc).  It applies
    the html5-recovery behaviors the cascade relies on: head/body
    insertion-mode recovery, implied end tags, void elements, lowercase
    names, first-attribute-wins, charref unescaping, script/style raw
    text, comments/doctype skipped."""

    __slots__ = ("root", "stack")

    def __init__(self) -> None:
        self.root = Node("#root")
        self.stack: list[Node] = [self.root]

    def _add_text(self, data: str) -> None:
        cur = self.stack[-1]
        if cur.tag == "head" and data.strip():
            # html5 "in head": non-whitespace text ends the head and is
            # re-parented into an implied <body>
            self.stack.pop()
            parent = self.stack[-1]
            cur = Node("body", parent=parent)
            parent.children.append(cur)
            self.stack.append(cur)
        if cur.children:
            cur.children[-1].tail += data
        else:
            cur.text += data

    def _implied_close(self, tag: str) -> None:
        stack = self.stack
        if tag in _P_CLOSERS:
            for i in range(len(stack) - 1, 0, -1):
                t = stack[i].tag
                if t == "p":
                    del stack[i:]
                    break
                if t in _P_CLOSE_BARRIERS:
                    break
        closers = _IMPLIED_END.get(tag)
        if closers:
            barrier_tr = "tr" if tag in ("td", "th") else "table"
            for i in range(len(stack) - 1, 0, -1):
                t = stack[i].tag
                if t in closers:
                    del stack[i:]
                    break
                if t in ("table", "ul", "ol", "dl", "body", "html", "#root",
                         "select", barrier_tr):
                    break

    def feed(self, s: str) -> None:
        unescape = _unescape
        start_match = _FAST_START_RE.match
        attr_re = _FAST_ATTR_RE
        n = len(s)
        find = s.find
        add_text = self._add_text
        handle_end = self._handle_end
        i = 0
        while i < n:
            lt = find("<", i)
            if lt < 0:
                chunk = s[i:]
                add_text(unescape(chunk) if "&" in chunk else chunk)
                break
            if lt > i:
                chunk = s[i:lt]
                add_text(unescape(chunk) if "&" in chunk else chunk)
            c = s[lt + 1] if lt + 1 < n else ""
            if c == "/":
                gt = find(">", lt)
                if gt < 0:
                    add_text(s[lt:])
                    break
                name = s[lt + 2:gt].strip().lower()
                if name:
                    handle_end(name.split()[0])
                i = gt + 1
            elif c == "!":
                if s.startswith("<!--", lt):
                    end = find("-->", lt + 4)
                    i = end + 3 if end >= 0 else n
                else:
                    gt = find(">", lt)
                    i = gt + 1 if gt >= 0 else n
            elif c == "?":
                gt = find(">", lt)
                i = gt + 1 if gt >= 0 else n
            elif c.isalpha():
                # fused scan: one anchored regex yields the name, the
                # attribute segment and the '>' position in a single C
                # call (separate find + slice + name-match was the single
                # hottest stretch of the parser)
                m = start_match(s, lt + 1)
                if m is None:
                    # ASCII-name regex failed: either no '>' ahead, or a
                    # non-[a-zA-Z] lead char (unicode isalpha) — emit the
                    # pseudo-tag as text, honoring the same quote-parity
                    # '>'-extension the tag path applies
                    gt = find(">", lt + 1)
                    if gt < 0:
                        add_text(s[lt:])
                        break
                    seg = s[lt + 1:gt]
                    if seg.count('"') % 2 or seg.count("'") % 2:
                        gt2 = _scan_tag_end(s, lt + 1, n)
                        if gt2 >= 0:
                            gt = gt2
                    add_text(s[lt:gt + 1])
                    i = gt + 1
                    continue
                tag, rest = m.group(1, 2)
                gt = m.end() - 1
                # a quoted attribute value may contain '>': odd quote
                # parity means the first '>' may sit inside a value (or a
                # value holds a bare apostrophe) — resolve with a real
                # quote-state scan instead of blindly extending to the
                # next '>' (which swallowed page content whenever an
                # attribute held a lone apostrophe).  The name can carry
                # quotes too ([^\s/>] admits them), so count both parts.
                if (tag.count('"') + rest.count('"')) % 2 or \
                   (tag.count("'") + rest.count("'")) % 2:
                    gt2 = _scan_tag_end(s, lt + 1, n)
                    if gt2 >= 0:
                        gt = gt2
                        rest = s[lt + 1 + len(tag):gt]
                tag = tag.lower()
                self_closing = rest.endswith("/")
                if self_closing:
                    rest = rest[:-1]
                amap: dict = {}
                if rest:
                    for am in attr_re.finditer(rest):
                        aname = am.group(1).lower()
                        if aname in amap:
                            continue
                        val = am.group(2)
                        if val is None:
                            val = am.group(3)
                        if val is None:
                            val = am.group(4)
                        if val is None:
                            val = ""
                        elif "&" in val:
                            val = unescape(val)
                        amap[aname] = val
                self._handle_start(tag, amap, self_closing)
                i = gt + 1
                if not self_closing and tag in ("script", "style"):
                    # case-insensitive search on s itself: transferring
                    # indices from s.lower() breaks when lower() changes
                    # string length ('İ' → 2 chars); the [\s/>] delimiter
                    # matches the html5 script-data end-tag rule, so
                    # '</scripts>' inside code does NOT end the element
                    end_m = _RAWTEXT_END[tag].search(s, i)
                    if end_m is None:
                        add_text(s[i:])
                        handle_end(tag)
                        break
                    end = end_m.start()
                    add_text(s[i:end])
                    gt = find(">", end)
                    handle_end(tag)
                    i = gt + 1 if gt >= 0 else n
            else:
                add_text("<")
                i = lt + 1

    def _handle_start(self, tag: str, amap: dict, self_closing: bool) -> None:
        # html5 head/body insertion-mode recovery, inlined with the
        # implied-close precheck: this runs once per start tag (~320 per
        # page); the common case (inline tag, not in head) must not pay a
        # method call.  Pages with no </head>/<body> tags rely on these
        # rules, or the whole document nests inside <head>.  A duplicate
        # <html>/<body> is ignored (html5 merges attributes instead of
        # opening a second element).
        stack = self.stack
        if stack[-1].tag == "head" and tag not in _HEAD_CONTENT:
            stack.pop()
            if tag != "body" and tag != "html":
                parent = stack[-1]
                body = Node("body", None, parent)
                parent.children.append(body)
                stack.append(body)
        if tag in _GATE_TAGS:
            for nd in stack:
                if nd.tag == tag:
                    return
        if tag in _NEEDS_IMPLIED:
            self._implied_close(tag)
        parent = stack[-1]
        # __new__ + direct slot writes: skips the __init__ dispatch, which
        # is measurable at ~320 start tags per page (same trick as
        # Node.copy)
        node = Node.__new__(Node)
        node.tag = tag
        node.attrs = amap
        node.children = []
        node.parent = parent
        node.text = ""
        node.tail = ""
        parent.children.append(node)
        if not self_closing and tag not in VOID_ELEMENTS:
            stack.append(node)

    def _handle_end(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        if tag == "body" or tag == "html":
            # html5: </body>/</html> only switch insertion modes — later
            # content still belongs to body.  Pages emitting a premature
            # </html> before <body> (seen in the wild) would otherwise
            # orphan the whole document body.
            return
        stack = self.stack
        # well-formed fast path: the end tag closes the top of the stack
        # (true for nearly every end tag on real pages)
        if stack[-1].tag == tag:
            if len(stack) > 1:
                stack.pop()
            return
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].tag == tag:
                del stack[i:]
                return


def _scan_tag_end(s: str, start: int, n: int) -> int:
    """Index of the ``>`` terminating a start tag whose attrs may hold quotes.

    Quote state opens only when a quote char directly follows ``=``
    (whitespace allowed between), mirroring the HTML5 tokenizer's
    before-attribute-value state — so ``content="it's fine"`` closes at the
    real ``>`` and a lone apostrophe never swallows the rest of the page.
    """
    quote = ""
    after_eq = False
    i = start
    while i < n:
        ch = s[i]
        if quote:
            if ch == quote:
                quote = ""
        elif ch == ">":
            return i
        elif ch == '"' or ch == "'":
            if after_eq:
                quote = ch
            after_eq = False
        elif ch == "=":
            after_eq = True
        elif not ch.isspace():
            after_eq = False
        i += 1
    return -1



# fused start-tag scanner: name + attribute segment + terminating '>' in
# one anchored match (see _FastBuilder.feed)
_FAST_START_RE = _re_mod.compile(r"([a-zA-Z][^\s/>]*)([^>]*)>")
_FAST_ATTR_RE = _re_mod.compile(
    r"([a-zA-Z_:@][-.:\w@]*)"
    r"(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'>]*)))?")


def parse_html(html: str) -> Node:
    """Parse an HTML string into a tree rooted at ``<html>`` with a ``<body>``.

    Mirrors the recovery contract of utils.dart:194-235 (loadHtml): always
    yields an ``html`` root with ``head``/``body`` children; top-level
    content lands in ``body``.
    """
    if _CPARSE is not None:
        root = _CPARSE(html)
    else:
        builder = _FastBuilder()
        builder.feed(html)
        root = builder.root

    html_node = None
    for child in root.children:
        if child.tag == "html":
            html_node = child
            break
    if html_node is None:
        html_node = Node("html")
        html_node.children = list(root.children)
        for child in html_node.children:
            child.parent = html_node
        html_node.text = root.text
        root.children = [html_node]
        root.text = ""
        html_node.parent = root
        root_strays: list[Node] = []
    else:
        root_strays = [c for c in root.children if c is not html_node]

    head = None
    body = None
    for child in html_node.children:
        if child.tag == "head" and head is None:
            head = child
        elif child.tag == "body" and body is None:
            body = child
    if body is None:
        body = Node("body")
        body.parent = html_node
        html_node.children.append(body)
    if head is None:
        head = Node("head")
        head.parent = html_node
        html_node.children.insert(0, head)

    # html5 recovery: element/text content outside <html>/<body> (e.g. PHP
    # warnings emitted before the doctype, text after </head>, or markup
    # between </head> and <body>) belongs to body — the html5 tree
    # constructor reprocesses it in "in body" mode.  Reparent strays AND
    # loose text in document order ahead of the body's own children:
    # root.text, pre-<html> strays, <html> lead text, </head> tail text,
    # html-level strays, then the body's original content.
    html_strays = [c for c in html_node.children
                   if c is not head and c is not body]
    mid_text = html_node.text + head.tail
    if root_strays or html_strays or (root.text + mid_text).strip():
        lead = ""
        last: Node | None = None
        new_strays: list[Node] = []
        for piece in (root.text, *root_strays, mid_text, *html_strays,
                      body.text):
            if isinstance(piece, str):
                if last is None:
                    lead += piece
                else:
                    last.tail = last.tail + piece
            else:
                piece.parent = body
                new_strays.append(piece)
                last = piece
        body.text = lead if (lead.strip() or new_strays) else body.text
        body.children = new_strays + body.children
        root.children = [html_node]
        root.text = ""
        html_node.children = [head, body]
        html_node.text = ""
        head.tail = ""
    return html_node


def get_body(tree: Node) -> Node:
    if tree.tag == "body":
        return tree
    for child in tree.children:
        if child.tag == "body":
            return child
    return tree


# -- minimal CSS selector engine (for pruneXpath parity, core.dart:232-244:
#    the reference hands the user's prune expressions to querySelectorAll,
#    i.e. they are CSS selectors) --------------------------------------------

_SEL_TOKEN = _re_mod.compile(
    r"(?P<tag>\*|[a-zA-Z][-\w]*)?"
    r"(?P<rest>(?:[.#][-\w]+|\[[^\]]+\])*)")
_SEL_PART = _re_mod.compile(r"[.#][-\w]+|\[[^\]]+\]")


def _parse_simple(simple: str):
    """One compound selector -> predicate(Node) -> bool."""
    m = _SEL_TOKEN.match(simple)
    if m is None or m.end() != len(simple):
        raise ValueError(f"unsupported selector: {simple!r}")
    tag = m.group("tag")
    checks = []
    if tag and tag != "*":
        want_tag = tag.lower()
        checks.append(lambda n, t=want_tag: n.tag == t)
    for part in _SEL_PART.findall(m.group("rest") or ""):
        if part.startswith("."):
            cls = part[1:]
            checks.append(
                lambda n, c=cls: c in n.attrs.get("class", "").split())
        elif part.startswith("#"):
            ident = part[1:]
            checks.append(lambda n, i=ident: n.attrs.get("id") == i)
        else:
            inner = part[1:-1]
            if "*=" in inner:
                k, _, v = inner.partition("*=")
                v = v.strip("\"'")
                checks.append(
                    lambda n, k=k.strip(), v=v: v in n.attrs.get(k, ""))
            elif "^=" in inner:
                k, _, v = inner.partition("^=")
                v = v.strip("\"'")
                checks.append(
                    lambda n, k=k.strip(), v=v:
                        n.attrs.get(k, "").startswith(v) and v != "")
            elif "~=" in inner:
                k, _, v = inner.partition("~=")
                v = v.strip("\"'")
                checks.append(
                    lambda n, k=k.strip(), v=v: v in n.attrs.get(k, "").split())
            elif "=" in inner:
                k, _, v = inner.partition("=")
                v = v.strip("\"'")
                checks.append(
                    lambda n, k=k.strip(), v=v: n.attrs.get(k) == v)
            else:
                k = inner.strip()
                checks.append(lambda n, k=k: k in n.attrs)
    return lambda n: all(c(n) for c in checks)


_XPATH_PRED = _re_mod.compile(
    r"""\[\s*(?:
        contains\(\s*@([-\w]+)\s*,\s*(['"])(.*?)\2\s*\)      # contains(@a,"v")
      | starts-with\(\s*@([-\w]+)\s*,\s*(['"])(.*?)\5\s*\)   # starts-with
      | @([-\w]+)\s*=\s*(['"])(.*?)\8                        # @a="v"
      | @([-\w]+)                                            # @a
    )\s*\]""", _re_mod.VERBOSE)


def _split_outside_quotes(s: str, sep: str) -> list[str]:
    """Split on ``sep`` only where it sits outside single/double quotes —
    '//div[@class="a|b"]' is ONE branch, not two broken halves."""
    parts: list[str] = []
    buf: list[str] = []
    quote = None
    for c in s:
        if quote:
            if c == quote:
                quote = None
            buf.append(c)
        elif c in "\"'":
            quote = c
            buf.append(c)
        elif c == sep:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(c)
    parts.append("".join(buf))
    return parts


def xpath_to_css(expr: str) -> str:
    """Translate the XPath subset real trafilatura prune configs use
    (``//div[@class="ad"]``, ``//*[contains(@id, "promo")]``,
    ``.//aside[@role]//p``, unions with ``|``) into the CSS dialect of
    :func:`css_select`.  Raises ValueError on anything outside the subset
    (positional predicates, axes, functions) — callers skip, mirroring
    the reference's try/skip on invalid selectors (core.dart:236-243).

    The reference feeds prune expressions straight to querySelectorAll,
    so XPath-syntax entries from a ported trafilatura config are
    silently dropped there; upstream trafilatura (Python, prune_xpath)
    accepts them — this follows upstream so configs port unchanged."""
    groups = []
    for branch in _split_outside_quotes(expr, "|"):
        s = branch.strip()
        if not s:
            continue
        if s.startswith(".//"):
            s = s[3:]
        elif s.startswith("//"):
            s = s[2:]
        elif s.startswith("/") or s.startswith("./"):
            # absolute-from-root / explicit-child leading steps don't
            # occur in prune configs; out of subset
            raise ValueError(f"unsupported xpath: {branch!r}")
        # scan steps left-to-right: '//' = descendant, '/' = child;
        # predicates in the supported subset never contain '/'
        css = ""
        i = 0
        rest = s
        while rest:
            if rest.startswith("//"):
                css += " "
                rest = rest[2:]
            elif rest.startswith("/"):
                css += " > "
                rest = rest[1:]
            elif i > 0 and not css.endswith((" ", ">")):
                raise ValueError(f"unsupported xpath: {branch!r}")
            m = _re_mod.match(r"(\*|[a-zA-Z][-\w]*)", rest)
            if not m:
                raise ValueError(f"unsupported xpath: {branch!r}")
            part = m.group(1)
            rest = rest[m.end():]
            while rest.startswith("["):
                pm = _XPATH_PRED.match(rest)
                if not pm:
                    raise ValueError(f"unsupported xpath: {branch!r}")
                if pm.group(1):          # contains()
                    part += f'[{pm.group(1)}*="{pm.group(3)}"]'
                elif pm.group(4):        # starts-with()
                    part += f'[{pm.group(4)}^="{pm.group(6)}"]'
                elif pm.group(7):        # @a="v"
                    part += f'[{pm.group(7)}="{pm.group(9)}"]'
                else:                    # @a
                    part += f"[{pm.group(10)}]"
                rest = rest[pm.end():]
            css += part
            i += 1
        if not css:
            raise ValueError(f"unsupported xpath: {branch!r}")
        groups.append(css)
    if not groups:
        raise ValueError(f"unsupported xpath: {expr!r}")
    return ", ".join(groups)


def css_select(root: "Node", selector: str) -> list["Node"]:
    """querySelectorAll subset: comma groups, descendant and child
    combinators, compound tag/.class/#id/[attr(=|~=|*=|^=)val] selectors.
    XPath-syntax selectors (leading ``//`` or ``.//``) are translated via
    :func:`xpath_to_css` first.  Raises ValueError on syntax it doesn't
    support (callers mirror the reference's try/skip behavior)."""
    if selector.lstrip().startswith((".//", "//")) \
            or len(_split_outside_quotes(selector, "|")) > 1:
        selector = xpath_to_css(selector)
    out: list[Node] = []
    seen: set[int] = set()
    for group in _split_outside_quotes(selector, ","):
        group = group.strip()
        if not group:
            continue
        # tokenize into (combinator, simple) steps
        toks = group.replace(">", " > ").split()
        steps: list[tuple[str, object]] = []
        comb = " "
        for tok in toks:
            if tok == ">":
                comb = ">"
                continue
            steps.append((comb, _parse_simple(tok)))
            comb = " "
        if not steps:
            continue
        candidates = [root]
        first = True
        for comb, pred in steps:
            nxt: list[Node] = []
            for c in candidates:
                if comb == ">" and not first:
                    pool = c.children
                else:
                    pool = c.find_all()
                for n in pool:
                    if pred(n):
                        nxt.append(n)
            candidates = nxt
            first = False
        for n in candidates:
            if id(n) not in seen:
                seen.add(id(n))
                out.append(n)
    return out


# ---------------------------------------------------------------------------
# Optional C accelerator wiring (SURVEY §8 round-5 lever (a)).  The seam is
# strictly additive: when the extension compiles (gcc + CPython headers, as
# on the bench hosts) its 14 entry points are bound to the _C* names below
# (parse_html, Node.copy and twelve walk primitives dispatch to them);
# otherwise each stays None and everything above runs unchanged.  Exact-tree
# parity is pinned by tests/test_chtml.py (reference-corpus + fuzz
# differentials) and by the 1,033-page golden manifests, which exercise
# whichever path is active.
try:  # pragma: no cover - environment-dependent
    from . import chtml as _chtml

    _handles = _chtml.load(
        Node, VOID_ELEMENTS, _P_CLOSERS, _P_CLOSE_BARRIERS, _IMPLIED_END,
        _HEAD_CONTENT, _NEEDS_IMPLIED, _GATE_TAGS, _unescape)
    if _handles is not None:
        (_CPARSE, _CCOPY, _CTEXT, _CFINDALL, _CITER,
         _CCLEANCOPY, _CMETAIDX, _CMETRICS, _CBUCKETS,
         _CTABLEHIT, _CATTRPAIR, _CDIVS, _CBRS, _CUNLIKELY) = _handles
except Exception:  # noqa: BLE001 - accelerator must never break imports
    pass
