"""Per-document fingerprints and token sampling.

Re-expression of /root/reference/lib/src/deduplication.dart:51-221.
``content_fingerprint`` is a per-row column; *corpus-level* exact and
near-duplicate detection are relational stages (hash groupBy, LSH
band join) defined in ``trafilatura_spark.functions.dedup`` — the
reference's order-dependent LRU ``duplicateTest``
(deduplication.dart:335-349) is deliberately NOT reproduced inside the
UDF because it breaks parallel determinism (SURVEY.md §4.3.5).
"""

from __future__ import annotations

import functools
import hashlib
import re

_PUNCT_EDGE = re.compile(r"^\W+|\W+$", re.UNICODE)
_PUNCT_ALL = re.compile(r"[^\w\s]", re.UNICODE)
_WS = re.compile(r"\s+")


# deduplication.dart:70-77 — ASCII alphanumerics or any char > 0x7f
_ALNUMISH_RE = re.compile("[0-9A-Za-z\u0080-\U0010ffff]+\\Z")


def _is_alnumish(s: str) -> bool:
    """deduplication.dart:70-77 — ASCII alphanumerics or extended chars."""
    if not s:
        return False
    if s.isascii():
        return s.isalnum()
    return _ALNUMISH_RE.fullmatch(s) is not None


def _sample_by_length(tokens: list[str], target: int) -> list[str]:
    """deduplication.dart:51-59 — length-threshold backoff."""
    for i in range(4, -1, -1):
        sample = [t for t in tokens if len(t) > i]
        if len(sample) >= target / 2:
            return sample
    return [t for t in tokens if t]


def sample_tokens(inputstring: str, length: int = 64) -> list[str]:
    """deduplication.dart:80-98."""
    tokens = []
    for token in _WS.split(inputstring):
        if not token:
            continue
        # ASCII-alnum edge chars cannot be \p{P}: skip the edge-strip sub
        c0, c1 = token[0], token[-1]
        if not (("0" <= c0 <= "9" or "A" <= c0 <= "Z" or "a" <= c0 <= "z")
                and ("0" <= c1 <= "9" or "A" <= c1 <= "Z"
                     or "a" <= c1 <= "z")):
            token = _PUNCT_EDGE.sub("", token)
        if _is_alnumish(token):
            tokens.append(token)
    sample = _sample_by_length(tokens, length)
    if not sample:
        clean = _PUNCT_ALL.sub(" ", inputstring)
        tokens = [t for t in _WS.split(clean) if _is_alnumish(t)]
        sample = _sample_by_length(tokens, length)
    return sample


@functools.lru_cache(maxsize=65536)
def _hash_token(token: str) -> int:
    """First 8 bytes of SHA-256 as big-endian int (deduplication.dart:124-133).
    Memoized: token distributions are heavy-tailed, and the cache is safe
    per Python worker (pure function, SURVEY.md §4.1)."""
    digest = hashlib.sha256(token.encode("utf-8")).digest()
    return int.from_bytes(digest[:8], "big")


@functools.lru_cache(maxsize=65536)
def _token_bits(token: str) -> tuple:
    """Set-bit positions of the token hash, memoized (the per-token work
    in the simhash loop is all here, and token distributions are
    heavy-tailed)."""
    h = _hash_token(token)
    return tuple(i for i in range(64) if h & (1 << i))


def simhash(inputstring: str, length: int = 64) -> int:
    """Charikar simhash over sampled tokens (deduplication.dart:142-159).

    Equivalent reformulation of the reference's ±1 vector: with S_i =
    occurrences whose hash has bit i set and T = total occurrences,
    vector[i] = 2*S_i - T, so bit i is set iff 2*S_i >= T.  Unique tokens
    are visited once with their count (same result, ~2-4x fewer ops on
    natural text)."""
    from collections import Counter
    counts = Counter(sample_tokens(inputstring, length=length))
    total = sum(counts.values())
    sums = [0] * length
    for token, c in counts.items():
        for i in _token_bits(token):
            sums[i] += c
    result = 0
    for i in range(length):
        if 2 * sums[i] >= total:
            result |= 1 << i
    return result


def content_fingerprint(content: str) -> str:
    """Simhash hex of title+text (deduplication.dart:219-221)."""
    return format(simhash(content), "x")


_STRIP_EXTENSION_RE = re.compile(r"\.[^/?#]{2,63}$")


def _strip_extension(domain: str) -> str:
    return _STRIP_EXTENSION_RE.sub("", domain)


def is_similar_domain(a: str, b: str, threshold: float = 0.5) -> bool:
    """Sequence-ratio >= threshold on extension-stripped domains
    (deduplication.dart:14-48): strip any trailing ``.xxx`` extension,
    then score ``2*matches/(len_a+len_b)`` where matches counts chars of
    ``a`` present anywhere in ``b`` (set membership)."""
    a, b = _strip_extension(a), _strip_extension(b)
    if not a and not b:
        return True
    if not a or not b:
        return False
    b_set = set(b)
    matches = sum(1 for ch in a if ch in b_set)
    return (2.0 * matches) / (len(a) + len(b)) >= threshold


def reset_caches() -> None:
    """Release per-worker memoization caches (meta.dart:12-21
    resetCaches): token-hash / token-bit LRUs used by simhash."""
    _hash_token.cache_clear()
    _token_bits.cache_clear()
