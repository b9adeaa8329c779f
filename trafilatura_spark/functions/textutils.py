"""Text normalization and gating predicates.

Re-expresses utils.dart:241-491 in vectorization-friendly pure Python.
Every function here runs inside the Arrow-batched UDF, so the hot ones
(`trim`, `sanitize`) are single passes of C-level str methods.
"""

from __future__ import annotations

import re

_WS_RE = re.compile(r"\s+")

# utils.dart:51-56 — social-media boilerplate filter
RE_FILTER = re.compile(
    r"\W*(Drucken|E-?Mail|Facebook|Flipboard|Google|Instagram|"
    r"Linkedin|Mail|PDF|Pinterest|Pocket|Print|QQ|Reddit|Twitter|"
    r"WeChat|WeiBo|Whatsapp|Xing|Mehr zum Thema:?|More on this.{0,8}$)$",
    re.IGNORECASE,
)

_CONTROL_TABLE = {c: None for c in range(32) if chr(c) not in "\t\n\r"}
_CONTROL_TABLE[127] = None


def trim(string: str) -> str:
    """Collapse all whitespace runs to single spaces (utils.dart:352-358).

    ``' '.join(s.split())`` is semantically identical to the regex form
    (both treat any unicode whitespace run as one separator and strip the
    ends) and ~4x faster in CPython — this is the hottest text function."""
    if not string:
        return ""
    return " ".join(string.split())


def remove_control_characters(string: str) -> str:
    """Strip non-printable characters, keep \\t\\n\\r and spaces
    (utils.dart:241-259)."""
    return string.translate(_CONTROL_TABLE)


def sanitize(text: str | None) -> str | None:
    """Entity fix + control-char strip of a rendered text blob, keeping
    its whitespace and blank lines (utils.dart:310-326 with
    preserveSpace).  The reference works line by line; every step here
    maps characters without crossing a newline, so one pass over the
    whole text gives the same result.  ``&nbsp;`` becomes U+00A0, not a
    space."""
    if not text:
        return None
    text = remove_control_characters(
        text.replace("&#13;", "\r").replace("&#10;", "\n")
        .replace("&nbsp;", "\xa0"))
    return text.replace("\u2424", "") or None


def text_chars_test(string: str | None) -> bool:
    """Non-blank test (utils.dart:489-491)."""
    return bool(string) and not string.isspace()


def textfilter(text_content: str) -> bool:
    """True if the node text is blank or social-media boilerplate
    (utils.dart:475-486)."""
    if not text_content or not text_content.strip():
        return True
    return any(RE_FILTER.match(line) for line in text_content.split("\n"))
