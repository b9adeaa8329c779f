"""Link-density boilerplate pruning.

The simplified variant of the algorithm (main_extractor.dart:479-533)
that the main extractor's pruneUnwantedSections runs.  The reference's
signature-aggregation variant (htmlprocessing.dart:168-284) is not
carried: no extraction path of the reference port calls it.
"""

from __future__ import annotations

from ..dom import Node


def calculate_link_density(elem: Node) -> float:
    """Simplified ratio used by pruneUnwantedSections
    (main_extractor.dart:511-521)."""
    text = elem.text_content()
    if not text:
        return 0.0
    link_len = sum(len(a.text_content()) for a in elem.iterdesc("a", "ref"))
    return link_len / len(text)


def delete_high_link_density(tree: Node, tag: str, favor_precision: bool = False) -> None:
    """Two-threshold delete pass (main_extractor.dart:524-533)."""
    threshold = 0.25 if favor_precision else 0.5
    for elem in tree.find_all(tag):
        if elem.parent is not None and calculate_link_density(elem) > threshold:
            elem.drop_tree()
