"""Seeded inputs, options and output checks for the workloads.

Every input is a pure function of ``(workload, seed)``.  The seed picks
the doc_id offset, each document's words and its template family.  The
number of ``article`` pages and of other-family pages is fixed per
workload, so the work per run barely depends on the seed; only the split
among the three cheap other families is drawn per page.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from trafilatura_spark.settings import Options
from trafilatura_spark.sources.corpus import (build_input_spans,
                                              expected_output_spans)

HERE = os.path.dirname(os.path.abspath(__file__))

# boilerplate repeats per page: ~8.7 KB pages
BOILER = 16

# relaxed fast options: bench.py's extraction headline profile
FAST_OPTIONS = dict(fast=True, comments=False, with_metadata=True,
                    min_extracted_size=5, min_output_size=1)


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str                 # "job" (run_extraction) or "operator" (noop sink)
    options: dict             # Options(**options); {} is the stock profile
    docs: int                 # total documents
    other_families: int       # bare + fallback_* pages (job workloads)
    comments: bool            # article pages carry a comment section


WORKLOADS = {
    w.name: w for w in (
        Workload("default-job", "job", {}, 1500, 150, True),
        Workload("fast-operator", "operator", FAST_OPTIONS, 6000, 0, False),
    )
}

OTHER_FAMILIES = ("bare", "fallback_readability", "fallback_justext")

# a fixed pseudo-word vocabulary (seed-independent, so every seed draws
# from the same text distribution)
_SYLLABLES = ("ka", "lo", "mi", "ren", "sta", "vo", "pel", "dor", "an", "ti",
              "mus", "gra", "nel", "for", "que", "bal", "sor", "ed", "un",
              "ver")
_vrng = random.Random(20261016)
VOCAB = tuple("".join(_vrng.choice(_SYLLABLES)
                      for _ in range(_vrng.randint(1, 3)))
              for _ in range(3000))
del _vrng


def _text(rng: random.Random) -> str:
    """90-220 words of sentence-shaped text."""
    target = rng.randint(90, 220)
    words: list[str] = []
    while len(words) < target:
        sent = [rng.choice(VOCAB) for _ in range(rng.randint(6, 18))]
        sent[0] = sent[0].capitalize()
        sent[-1] += "."
        words += sent
    return " ".join(words)


@dataclass
class Doc:
    doc_id: str
    text: str
    family: str
    spans: list


def generate(workload: Workload, seed: int) -> list[Doc]:
    rng = random.Random(f"{workload.name}/{seed}")
    base = rng.randrange(10**6, 10**9)
    n = workload.docs
    order = list(range(n))
    rng.shuffle(order)
    # family by position in a seeded permutation: exact counts, seeded
    # placement
    others = set(order[:workload.other_families])
    docs = []
    for i in range(n):
        doc_id = base + i
        text = _text(rng)
        family = rng.choice(OTHER_FAMILIES) if i in others else "article"
        spans = build_input_spans(doc_id, text, "en", f"site{doc_id % 13}",
                                  with_comments=workload.comments,
                                  template=family, boiler_repeat=BOILER)
        docs.append(Doc(str(doc_id), text, family, spans))
    return docs


_SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])


def write_parquet(docs: list[Doc], path: str) -> int:
    """documents(doc_id, spans) as parquet; returns bytes of HTML."""
    table = pa.table({
        "doc_id": pa.array([d.doc_id for d in docs], pa.string()),
        "spans": pa.array([d.spans for d in docs], pa.list_(_SPAN_TYPE)),
    })
    os.makedirs(path, exist_ok=True)
    # several files so the scan has parallel splits
    step = max(1, len(docs) // 8)
    for k, lo in enumerate(range(0, len(docs), step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))
    return sum(len(s["text"]) for d in docs for s in d.spans)


def options(workload: Workload) -> Options:
    return Options(**workload.options)


# -- output checks --------------------------------------------------------

def _span_tuples(spans) -> list[tuple]:
    """Spans as (kind, text, media_ref, offset) tuples, from either the
    dict form (Arrow to pandas) or the tuple form (the extractor)."""
    return [(s[0], s[1], s[2], int(s[3])) if isinstance(s, tuple) else
            (s["kind"], s["text"], s["media_ref"], int(s["offset"]))
            for s in spans]


def row_digest(doc_id: str, status: str, tier: str, spans) -> int:
    payload = json.dumps([doc_id, status, tier, _span_tuples(spans)],
                         separators=(",", ":"))
    return int.from_bytes(hashlib.sha256(payload.encode()).digest()[:8],
                          "big")


def table_digest(rows) -> str:
    """Order-independent digest of (doc_id, status, tier, spans) rows:
    the sum of per-row hashes mod 2**64, plus the row count."""
    total, n = 0, 0
    for doc_id, status, tier, spans in rows:
        total = (total + row_digest(doc_id, status, tier, spans)) % 2**64
        n += 1
    return f"{n}:{total:016x}"


def check_rows(workload: Workload, docs: list[Doc], rows) -> list[str]:
    """Per-document output checks.  Returns the doc_ids that fail.

    Every document must appear exactly once with status 'ok' and span
    offsets 0, 1, 2, ...  Pages whose construction fixes the output
    (every page of the fast profile; main-tier article pages of the
    stock profile) must match ``expected_output_spans`` exactly."""
    by_id = {d.doc_id: d for d in docs}
    with_comments = options(workload).comments and workload.comments
    seen: set[str] = set()
    bad: list[str] = []
    for doc_id, status, tier, spans in rows:
        doc = by_id.get(doc_id)
        if doc is None or doc_id in seen:
            bad.append(doc_id)
            continue
        seen.add(doc_id)
        spans = _span_tuples(spans)
        offsets = [s[3] for s in spans]
        ok = status == "ok" and offsets == list(range(len(offsets)))
        exact = doc.family == "article" and (workload.options.get("fast")
                                             or tier == "main")
        if ok and exact:
            want = expected_output_spans(int(doc_id), doc.text,
                                         with_comments=with_comments)
            ok = spans == _span_tuples(want)
        if not ok:
            bad.append(doc_id)
    bad += [d for d in by_id if d not in seen]
    return bad


PINNED_PATH = os.path.join(HERE, "pinned.json")


def pinned_digest(workload: Workload, seed: int) -> str | None:
    try:
        with open(PINNED_PATH) as f:
            pins = json.load(f)
    except FileNotFoundError:
        return None
    return pins.get(workload.name, {}).get(str(seed))
