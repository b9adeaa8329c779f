"""Per-document extraction lifecycle.

Re-expression of /root/reference/lib/src/core.dart:108-336
(bareExtraction + trafilaturaSequence): load → lang gate → metadata →
clean → convert → comments → main cascade → fallback comparison →
baseline rescue → size gates → span emission.

Error semantics mirror core.dart:333-335: any per-document failure
yields a null result (status='error'), never an exception — on Spark a
task must not die because one document is pathological
(SURVEY.md §4.3.4).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .dom import Node, get_body, parse_html
from .operators.baseline import baseline
from .operators.cleaning import clean_copy, convert_tags
from .operators.deduplication import content_fingerprint
from .operators.fallbacks import compare_extraction
from .operators.main_extractor import extract_comments, extract_content
from .operators.metadata import extract_metadata
from .operators.normalize import normalize_output_tree
from .operators.render import emit_spans, render_txt
from .operators.selectors import select_comment_elements
from .settings import Options
from .watchdog import DocTimeout, check_deadline, clear_budget, doc_budget


@dataclass
class ExtractionResult:
    doc_id: str = ""
    spans: list = field(default_factory=list)
    meta: dict | None = None
    text: str = ""
    comments_text: str = ""
    status: str = "ok"      # ok | empty | error | rejected | timeout
    tier: str = "main"      # main | readability | justext | baseline | none
    len_text: int = 0
    body: Node | None = None           # output-vocabulary tree (for sinks)
    commentsbody: Node | None = None


def load_html(content: str) -> Node | None:
    """Parse + sanity-check (utils.dart:194-235 loadHtml).

    Repairs the faulty-doctype / self-closing ``<html/>`` cases before
    parsing and rejects non-HTML (no 'html' marker and <2 body children).
    """
    if not isinstance(content, str):
        return None
    beginning = content[:50].lower()
    check_flag = "html" not in beginning
    # repairFaultyHtml (utils.dart:170-192)
    if "doctype" in beginning:
        first_nl = content.find("\n")
        head_line = content if first_nl == -1 else content[:first_nl]
        import re as _re
        head_line = _re.sub(r"^< ?! ?DOCTYPE[^>]*/[^<]*>", "", head_line, flags=_re.I)
        content = head_line + (content[first_nl:] if first_nl != -1 else "")
    lines = content.split("\n", 3)
    for i, line in enumerate(lines[:3]):
        if "<html" in line and line.rstrip().endswith("/>"):
            import re as _re
            content = _re.sub(r"(<html[^>]*?)\s*/>", r"\1>", content, count=1, flags=_re.I)
            break
    try:
        tree = parse_html(content)
    except Exception:
        return None
    if check_flag and len(get_body(tree).children) < 2:
        return None
    return tree


def check_html_lang(tree: Node, target: str, strict: bool = False) -> bool:
    """Meta/og-locale/html@lang language gate (utils.dart:417-449).

    The target is normalized to its lowercase primary subtag ('en-US',
    'EN' → 'en') — the document side already extracts two-letter
    lowercase tokens, so an unnormalized target would reject every
    document carrying a language header."""
    import re as _re
    lang_re = _re.compile(r"([a-z]{2})")
    m = lang_re.match(target.lower())
    target = m.group(1) if m else target.lower()
    for want_attr, want_val in (("http-equiv", "content-language"),
                                ("property", "og:locale")):
        elems = [e for e in tree.iterdesc("meta")
                 if e.attrs.get(want_attr, "").lower() == want_val
                 and e.attrs.get("content")]
        if elems:
            for elem in elems:
                langs = lang_re.findall(elem.attrs["content"].lower())
                if target in langs:
                    return True
            return False
    if strict:
        candidates = [tree] if tree.tag == "html" else []
        candidates += [e for e in tree.iterdesc("html")]
        with_lang = [e for e in candidates if e.attrs.get("lang")]
        if with_lang:
            for elem in with_lang:
                langs = lang_re.findall(elem.attrs["lang"].lower())
                if target in langs:
                    return True
            return False
    return True


def _prune_duplicate_elements(bodies: list[Node], options: Options) -> None:
    """Drop span-emitting elements whose rendered text repeats beyond
    ``max_repetitions`` (count tested before increment — the
    duplicateTest semantics, deduplication.dart:335-349).  Walk order and
    the text keys mirror ``emit_spans`` exactly, and one shared counter
    spans body + comments, so the pruned tree yields the same span list
    the old span-level filter produced — but every sink (spans, txt,
    serializations, fingerprint) now sees the same content."""
    from .operators.render import _CONTAINERS, render_inline

    counts: dict[str, int] = {}

    def walk(node: Node) -> None:
        for child in list(node.children):
            kind = child.tag
            if kind in _CONTAINERS or (kind == "quote" and child.children):
                walk(child)
                continue
            if kind == "graphic":
                text = child.attrs.get("alt") or child.attrs.get("title") or ""
            else:
                text = render_inline(child, options.formatting)
            if len(text) > options.min_duplcheck_size:
                seen = counts.get(text, 0) + 1
                counts[text] = seen
                if seen - 1 > options.max_repetitions:
                    child.drop_tree(keep_tail=False)

    for body in bodies:
        walk(body)


def trafilatura_sequence(converted_tree: Node, cleaned_backup: Node,
                         raw_body_fn, options: Options,
                         backup_factory) -> tuple[Node, str, int, str]:
    """Main cascade with fallbacks (core.dart:108-142).

    ``raw_body_fn`` supplies a PRISTINE, freely-mutable body tree on
    each call (the reference passes copies of the raw body to
    compareExtraction/baseline); ``backup_factory`` rebuilds the
    converted tree for the wild-text second chance.  Both are called
    only when their tier runs, so a document the main pass settles pays
    for neither."""
    postbody, temp_text, len_text = extract_content(converted_tree, options,
                                                    backup_factory)
    tier = "main"
    check_deadline()  # tier boundary: main → fallback comparison
    if not options.fast:
        # cleaned_backup is consumed here (it has no later reader), so it
        # is passed without a defensive copy
        postbody, temp_text, len_text, tier = compare_extraction(
            cleaned_backup, raw_body_fn, postbody, temp_text,
            len_text, options)
    check_deadline()  # tier boundary: fallbacks → baseline rescue
    if len_text < options.min_extracted_size and options.focus != "precision":
        postbody, temp_text, len_text = baseline(raw_body_fn())
        tier = "baseline"
    return postbody, temp_text, len_text, tier


def _apply_prune_patterns(working_body: Node, options: Options) -> None:
    """User pruning before any cleaning (core.dart:232-244 pruneXpath —
    the reference hands the expressions to querySelectorAll, so they are
    CSS selectors; invalid ones are skipped).  XPath-syntax expressions
    (//div[@class="ad"], upstream trafilatura's prune_xpath dialect) are
    translated by dom.xpath_to_css so ported configs work unchanged.
    Bare-word patterns additionally fall back to class/id substring
    matching (engine extension, pinned by test_prune_patterns_option)."""
    if not options.prune_patterns:
        return
    from .dom import css_select
    for pattern in options.prune_patterns:
        try:
            matched = css_select(working_body, pattern)
        except ValueError:
            matched = []
        for elem in matched:
            if elem.parent is not None:
                elem.drop_tree()
        if not matched and pattern.isalnum():
            for elem in working_body.find_all():
                ident = (elem.attrs.get("class", "") + " "
                         + elem.attrs.get("id", "")).lower()
                if elem.parent is not None and pattern in ident:
                    elem.drop_tree()


def _convert_and_split_comments(cleaned: Node, options: Options,
                                url: str | None) -> tuple[Node, Node, int]:
    """convert → comment extraction → precision comment drop on a cleaned
    body: returns ``(converted, commentsbody, len_comments)``.  The first
    pass and the wild-text rebuild both prepare their tree here, so the
    two cannot drift apart."""
    converted = convert_tags(cleaned, options, url=url)
    if options.comments:
        commentsbody, _, len_comments, converted = \
            extract_comments(converted, options)
    else:
        commentsbody, len_comments = Node("body"), 0
    if options.focus == "precision":
        for elem in select_comment_elements(converted):
            if elem.parent is not None:
                elem.drop_tree()
    return converted, commentsbody, len_comments


def bare_extraction(filecontent: str, options: Options | None = None,
                    doc_id: str = "") -> ExtractionResult:
    """Full per-document pipeline (core.dart:147-336), wall-clock-bounded.

    The reference bounds per-document exceptions only (core.dart:333-335);
    ``options.doc_timeout_sec`` additionally bounds per-document TIME
    (watchdog.py) — a budget overrun yields ``status='timeout'`` the same
    way a failure yields ``status='error'``: the task never dies, the row
    is counted."""
    options = options or Options()
    result = ExtractionResult(doc_id=doc_id)
    try:
        with doc_budget(options.doc_timeout_sec):
            return _bare_extraction_impl(filecontent, options, result)
    except DocTimeout:
        # belt-and-suspenders: a late alarm can abort doc_budget's own
        # restore machinery mid-unwind; re-disarm so the stale deadline
        # cannot poison every later document in this worker
        clear_budget()
        return ExtractionResult(doc_id=doc_id, status="timeout", tier="none")
    except Exception:
        # core.dart:333-335 — swallow, count, never fail the task
        return ExtractionResult(doc_id=doc_id, status="error", tier="none")


def _bare_extraction_impl(filecontent: str, options: Options,
                          result: ExtractionResult) -> ExtractionResult:
    if filecontent is None or \
       not (options.min_file_size <= len(filecontent) <= options.max_file_size):
        result.status = "rejected"
        result.tier = "none"
        return result
    tree = load_html(filecontent)
    if tree is None:
        result.status = "rejected"
        result.tier = "none"
        return result

    if options.lang and not check_html_lang(tree, options.lang):
        result.status = "rejected"
        result.tier = "none"
        return result

    meta = None
    if options.with_metadata:
        meta = extract_metadata(tree, default_url=options.url,
                                author_blacklist=options.author_blacklist)
        if options.url_blacklist and meta.get("url") in options.url_blacklist:
            result.status = "rejected"
            result.tier = "none"
            return result
        if options.only_with_metadata and not (
            meta.get("date") and meta.get("title") and meta.get("url")
        ):
            result.status = "rejected"
            result.tier = "none"
            return result

    check_deadline()  # stage boundary: load + metadata → cleaning
    working_body = get_body(tree)
    _apply_prune_patterns(working_body, options)
    conv_url = options.url or (meta or {}).get("url")

    # fused copy+clean: one walk that never materializes the subtrees
    # cleaning deletes; working_body stays pristine, and every rescue
    # tier takes its own freely-mutable copy of it
    cleaned = clean_copy(working_body, options)
    # the backup feeds compare_extraction only — skip the full-tree
    # copy in fast mode (the bench/oracle hot path)
    cleaned_backup = cleaned if options.fast else cleaned.copy()
    converted, commentsbody, len_comments = _convert_and_split_comments(
        cleaned, options, conv_url)

    def rebuild_converted() -> Node:
        # the same preparation from a pristine body: the wild-text
        # second chance (extract_content) calls this ONLY when the
        # main pass comes up short, replacing the every-document
        # backup copy with an on-miss rebuild
        return _convert_and_split_comments(
            clean_copy(working_body, options), options, conv_url)[0]

    postbody, temp_text, len_text, tier = trafilatura_sequence(
        converted, cleaned_backup, working_body.copy, options,
        rebuild_converted)
    check_deadline()  # stage boundary: cascade → guards + emission

    # tree size guard (core.dart:285-296)
    if options.max_tree_size is not None:
        n_elems = sum(1 for _ in postbody.iterdesc())
        if n_elems > options.max_tree_size:
            from .dom import strip_tags
            strip_tags(postbody, "hi")
            if sum(1 for _ in postbody.iterdesc()) > options.max_tree_size:
                result.status = "rejected"
                result.tier = "none"
                return result

    # size gates (core.dart:299-301)
    if len_text < options.min_output_size and \
            len_comments < options.min_output_comm_size:
        result.status = "empty"
        result.tier = tier
        return result

    # output normalization (xml_utils.dart:315-316 via controlXmlOutput):
    # collapse nested head/code/p, drop word-char-less empties.  The
    # reference runs this on the XML serialization path; the span table
    # is this engine's serialization, so it runs before emit_spans (and
    # thus also feeds render_txt — consistent across sinks).
    normalize_output_tree(postbody, options.formatting)

    result.tier = tier
    result.body = postbody
    result.commentsbody = commentsbody \
        if options.comments and commentsbody.children else None
    included_comments = commentsbody \
        if options.comments and commentsbody.children else None
    if options.dedup:
        # deterministic per-document duplicateTest
        # (deduplication.dart:335-349): the reference tests the cached
        # count BEFORE incrementing, so max_repetitions+1 copies are
        # kept and occurrences beyond that are dropped.  Duplicates are
        # pruned from the TREE (as the reference does) so the span
        # table, txt/csv/json renderings and the fingerprint all agree.
        # The reference's cross-document LRU is order-dependent and
        # lives as a relational stage instead (functions/dedup.py).
        _prune_duplicate_elements(
            [postbody] + ([included_comments] if included_comments
                          is not None else []),
            options)
        if included_comments is not None and not included_comments.children:
            included_comments = None
    result.spans = emit_spans(
        postbody,
        included_comments,
        include_formatting=options.formatting,
    )
    result.text = render_txt(postbody, options.formatting)
    result.comments_text = render_txt(commentsbody, options.formatting) \
        if commentsbody.children else ""
    result.len_text = len_text
    if meta is not None and options.fingerprint:
        # core.dart:547-560: computed only when the output format is
        # not in _txtFormats — Options.fingerprint carries that gate.
        meta["fingerprint"] = content_fingerprint(
            f"{meta.get('title') or ''} {result.text}")
    result.meta = meta
    if not result.spans:
        result.status = "empty"
    return result


def extract_txt(filecontent: str, options: Options | None = None) -> str | None:
    """Convenience string API (core.dart:384-434 extract)."""
    res = bare_extraction(filecontent, options)
    if res.status in ("rejected", "error", "empty"):
        return None
    return res.text


def extract(filecontent: str, output_format: str = "txt",
            options: Options | None = None) -> str | None:
    """Top-level string extraction with output-format dispatch
    (core.dart:25-105 determineReturnString): txt/markdown with metadata
    front-matter, json, csv, html, xml, xmltei — the same render as the
    extraction operator's in-stage ``serialize``."""
    from .operators.serialize import (determine_return_string,
                                      plan_output_format)
    options = plan_output_format(output_format, options or Options())
    res = bare_extraction(filecontent, options)
    if res.status in ("rejected", "error", "empty") or res.body is None:
        return None
    return determine_return_string(
        res.body, res.meta, output_format, comments_body=res.commentsbody,
        formatting=options.formatting, with_metadata=options.with_metadata)
