"""Fallback decision table: own extraction vs readability vs justext.

Re-expression of /root/reference/lib/src/external.dart:36-115.  A pure
decision function over (lengths, element counts) — the reference's
cost-based plan choice (SURVEY.md §4.1).
"""

from __future__ import annotations

from ..dom import Node, get_body, strip_tags
from ..functions.textutils import trim
from ..settings import Options
from .cleaning import convert_tags, prune_unwanted_nodes, tree_cleaning
from .justext import justext_rescue
from .readability import try_readability
from .render import OUTPUT_VOCAB
from .selectors import select_overall_discard_elements

# external.dart:20-22 — elements whose presence marks readability output as suspect
_SANITIZED_TAGS = (
    "aside", "audio", "button", "fieldset", "figure", "footer", "iframe",
    "input", "label", "link", "nav", "noindex", "noscript", "object",
    "option", "select", "source", "svg", "time",
)


def sanitize_readability_tree(tree: Node, options: Options) -> tuple[Node, str, int]:
    """Clean + convert readability output into the internal vocabulary
    (external.dart:257-314)."""
    cleaned = tree_cleaning(tree, options)
    if not options.links:
        strip_tags(cleaned, "a")
    strip_tags(cleaned, "span")
    cleaned = convert_tags(cleaned, options, url=options.url)
    for elem in cleaned.iterdesc("tr"):
        elem.tag = "row"
    for elem in cleaned.iterdesc("td", "th"):
        if elem.tag == "th":
            elem.attrs["role"] = "head"
        elem.tag = "cell"
    # normalize to output vocabulary: strip unknown containers, keep content
    unknown = {n.tag for n in cleaned.iterdesc()} - OUTPUT_VOCAB
    if unknown:
        strip_tags(cleaned, *unknown)
    body = Node("body")
    body.text = cleaned.text
    for child in list(cleaned.children):
        body.append(child)
    text = trim(body.text_content())
    return body, text, len(text)


def compare_extraction(cleaned_tree: Node, backup_fn, body: Node,
                       text: str, len_text: int, options: Options
                       ) -> tuple[Node, str, int, str]:
    """Decision table (external.dart:36-115).  Returns (body, text, len, tier).

    ``backup_fn`` supplies a PRISTINE, freely-mutable body tree per call
    (the reference hands compareExtraction a copy of the raw tree); the
    supplier form lets readability's rare retry path re-derive its input
    instead of every document paying a defensive copy."""
    tier = "main"
    if options.focus == "recall" and len_text > options.min_extracted_size * 10:
        return body, text, len_text, tier

    use_readability = False
    jt_result = False

    def pristine_backup() -> Node:
        backup_tree = backup_fn()
        if options.focus == "precision":
            backup_tree = prune_unwanted_nodes(
                backup_tree, select_overall_discard_elements)
        return get_body(backup_tree)

    temppost_algo = try_readability(pristine_backup(), refetch=pristine_backup)
    algo_text = trim(temppost_algo.text_content())
    len_algo = len(algo_text)

    own_p = len(body.find_all("p"))
    own_table = len(body.find_all("table"))
    own_head = len(body.find_all("head"))

    if len_algo == 0 or len_algo == len_text:
        use_readability = False
    elif len_text == 0 and len_algo > 0:
        use_readability = True
    elif len_text > 2 * len_algo:
        use_readability = False
    elif len_algo > 2 * len_text and not algo_text.startswith("{"):
        use_readability = True
    elif own_p == 0 and len_algo > options.min_extracted_size * 2:
        use_readability = True
    elif own_table > own_p and len_algo > options.min_extracted_size * 2:
        use_readability = True
    elif options.focus == "recall" and own_head == 0 and len_algo > len_text \
            and len(temppost_algo.find_all("h2", "h3", "h4")) > 0:
        use_readability = True

    # apply decision with the UNSANITIZED readability output: the justext
    # trigger and the 4x guard below compare against the raw algo length;
    # sanitization only happens at the end (external.dart:85-112 — the
    # reference's `useReadability && !jtResult` post-pass)
    if use_readability:
        body, text, len_text = temppost_algo, algo_text, len_algo
        tier = "readability"

    # justext rescue (external.dart:93-104)
    if temppost_algo.find(*_SANITIZED_TAGS) is not None or len_text < options.min_extracted_size:
        body2, text2, len_text2 = justext_rescue(cleaned_tree, options)
        jt_result = bool(text2)
        if text2 and not len_text > 4 * len_text2:
            body, text, len_text = body2, text2, len_text2
            tier = "justext"

    # post-processing: clean + convert the kept readability tree into the
    # internal vocabulary.  The reference only sanitizes when
    # `useReadability && !jtResult`; when justext produced text but the 4x
    # guard kept the readability body, it returns the RAW tree — here the
    # span sink needs the internal vocabulary, so the kept readability
    # body is always sanitized (documented deviation; decision flow and
    # lengths above are reference-exact).
    if tier == "readability":
        body, text, len_text = sanitize_readability_tree(temppost_algo, options)

    return body, text, len_text, tier
