"""Extraction options and constant tables.

Constants mirror the reference's settings
(/root/reference/lib/src/settings.dart:25-50, 515-635) and are the
contract for span-sequence parity.  ``Options`` is a plain dataclass:
on Spark it is closure-captured by the pandas UDF (broadcast with the
task), never a column.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# settings.dart:25-38 DefaultConfig
MIN_EXTRACTED_SIZE = 250
MIN_OUTPUT_SIZE = 200
MIN_OUTPUT_COMM_SIZE = 100
MIN_EXTRACTED_COMM_SIZE = 100
MIN_DUPLCHECK_SIZE = 100
MAX_REPETITIONS = 2
MAX_FILE_SIZE = 20_000_000
MIN_FILE_SIZE = 200

# settings.dart:40-49 tag catalog for body/comment content detection
TAG_CATALOG_BODY = frozenset(
    "article div main section p blockquote pre h1 h2 h3 h4 h5 h6 ul ol li dl dt dd "
    "table tr td th thead tbody figure figcaption".split()
)
TAG_CATALOG_COMMENTS = frozenset("div section article aside p li span".split())

# settings.dart:515-538 — elements removed when empty
CUT_EMPTY_ELEMS = frozenset(
    "article b blockquote dd div dt em h1 h2 h3 h4 h5 h6 i li main p pre q section "
    "span strong".split()
)

# settings.dart:541-596 — elements deleted with content
MANUALLY_CLEANED = (
    "aside embed footer form head iframe menu object script "
    "applet audio canvas figure map picture svg video "
    "area blink button datalist dialog frame frameset fieldset link input ins label "
    "legend marquee math menuitem nav noindex noscript optgroup option output param "
    "progress rp rt rtc select source style track textarea time use"
).split()

# settings.dart:599-621 — tags stripped keeping content
MANUALLY_STRIPPED = (
    "abbr acronym address bdi bdo big cite data dfn font hgroup img ins mark meta "
    "ruby small tbody template tfoot thead"
).split()

# settings.dart:624-635 — internal output tag vocabulary
TAG_CATALOG = frozenset("blockquote code del head hi lb list p pre quote".split())

# htmlprocessing.dart:15-27 — formatting tag -> rend value
REND_TAG_MAPPING = {
    "em": "#i",
    "i": "#i",
    "b": "#b",
    "strong": "#b",
    "u": "#u",
    "kbd": "#t",
    "samp": "#t",
    "tt": "#t",
    "var": "#t",
    "sub": "#sub",
    "sup": "#sup",
}

# htmlprocessing.dart:35 — image wrappers preserved when images are on
PRESERVE_IMG_CLEANING = frozenset(["figure", "picture", "source"])

# htmlprocessing.dart:38 — code sniffing indicators
CODE_INDICATORS = ["{", '("', "('", "\n    "]

# xml_utils.dart:35-44 — renderer tag sets
NEWLINE_ELEMS = frozenset("graphic head lb list p quote row table".split())
SPECIAL_FORMATTING = frozenset("code del head hi ref item cell".split())
WITH_ATTRIBUTES = frozenset("cell row del graphic head hi item list ref".split())
NESTING_WHITELIST = frozenset("cell figure item note quote".split())
HI_FORMATTING = {"#b": "**", "#i": "*", "#u": "__", "#t": "`"}

# utils.dart:39-42 — whitespace-protected tag sets
FORMATTING_PROTECTED = frozenset("cell head hi item p quote ref td".split())
SPACING_PROTECTED = frozenset(["code", "pre"])


@dataclass
class Options:
    """Extraction options (settings.dart:65-217 Extractor).

    Defaults follow settings.dart:124-176 except ``images=True``: the
    north rule's interleaved text+media corpus requires ``media_ref``
    survival, so the Spark pipeline keeps graphics by default.
    """

    fast: bool = False
    focus: str = "balanced"  # balanced | precision | recall
    comments: bool = True
    formatting: bool = False
    links: bool = False
    images: bool = True
    tables: bool = True
    dedup: bool = False
    lang: str | None = None
    url: str | None = None
    with_metadata: bool = True
    only_with_metadata: bool = False
    min_extracted_size: int = MIN_EXTRACTED_SIZE
    min_output_size: int = MIN_OUTPUT_SIZE
    min_output_comm_size: int = MIN_OUTPUT_COMM_SIZE
    min_extracted_comm_size: int = MIN_EXTRACTED_COMM_SIZE
    min_duplcheck_size: int = MIN_DUPLCHECK_SIZE
    max_repetitions: int = MAX_REPETITIONS
    max_file_size: int = MAX_FILE_SIZE
    min_file_size: int = MIN_FILE_SIZE
    max_tree_size: int | None = None
    author_blacklist: frozenset = field(default_factory=frozenset)
    url_blacklist: frozenset = field(default_factory=frozenset)
    # pruneXpath analog (core.dart:232-244): user-supplied class/id
    # substrings removed before cleaning/extraction
    prune_patterns: tuple = ()
    # contentFingerprint gate (core.dart:547-560): the reference computes
    # the simhash fingerprint only AFTER extraction and only for non-txt
    # output formats (format not in _txtFormats, core.dart:22) —
    # bareExtraction itself never computes it.  Off by default;
    # serialize.plan_output_format enables it for every xml/xmltei/html/
    # json/csv output.  The simhash is ~30% of per-document
    # extraction CPU, so span/txt paths must not pay it.
    fingerprint: bool = False
    # per-document wall-clock budget in seconds (watchdog.py): at 10^12
    # docs one adversarial page must not wedge a task forever — budget
    # overruns become status='timeout' rows, counted separately from
    # 'error' in the run metrics.  0 = disabled (the default): zero
    # hot-path cost and byte-identical results.
    doc_timeout_sec: float = 0.0


# the reference's option-name ↔ config-file-key table
# (configMapping, settings.dart:52-62); keys are the upstream
# trafilatura settings.cfg names, values are Options field names
CONFIG_MAPPING = {
    "MIN_EXTRACTED_SIZE": "min_extracted_size",
    "MIN_OUTPUT_SIZE": "min_output_size",
    "MIN_OUTPUT_COMM_SIZE": "min_output_comm_size",
    "MIN_EXTRACTED_COMM_SIZE": "min_extracted_comm_size",
    "MIN_DUPLCHECK_SIZE": "min_duplcheck_size",
    "MAX_REPETITIONS": "max_repetitions",
    "MAX_FILE_SIZE": "max_file_size",
    "MIN_FILE_SIZE": "min_file_size",
}


def load_config_file(path: str) -> dict:
    """Parse an upstream-trafilatura-style settings.cfg into Options
    kwargs (the reference CLI's --config-file via configMapping,
    settings.dart:52-62): ``KEY = value`` lines, ``#``/``;`` comments,
    ``[section]`` headers ignored, unknown keys ignored, values are
    ints.  Explicit CLI flags take precedence over the file.

    A RECOGNIZED key whose value fails int parsing raises — a typo'd
    gate value silently falling back to the default would change the
    extraction output with no diagnostic."""
    out: dict = {}
    with open(path, encoding="utf-8") as fh:
        for lineno, line in enumerate(fh, start=1):
            for marker in ("#", ";"):
                cut = line.find(marker)
                if cut >= 0:
                    line = line[:cut]
            line = line.strip()
            if not line or line.startswith("["):
                continue
            key, sep, value = line.partition("=")
            if not sep:
                continue
            field_name = CONFIG_MAPPING.get(key.strip().upper())
            if field_name is None:
                continue
            try:
                out[field_name] = int(value.strip())
            except ValueError:
                raise ValueError(
                    f"{path}:{lineno}: {key.strip()} = {value.strip()!r} "
                    "is not an integer") from None
    return out
