"""Per-layer tracing of the single-process extraction loop.

Wraps the public entry point of each layer and records one span per
call: (name, start_ns, end_ns, parent index, document index).  Modules
that import a function by name (``core``, ``fallbacks``, the pipeline)
hold their own binding, so every ``trafilatura_spark`` module attribute
bound to a wrapped function is patched, not only the defining one.
Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import importlib
import json
import sys
import time
from collections import Counter

# (metric prefix, module, attribute); the prefix plus "_s" (or "s" after
# a trailing dot) names the layer's self-time metric
LAYERS = (
    ("core.bare_extraction", "trafilatura_spark.core", "bare_extraction"),
    ("corpus.assemble", "trafilatura_spark.sources.corpus", "assemble_html"),
    ("dom.parse", "trafilatura_spark.dom", "parse_html"),
    ("dom.copy", "trafilatura_spark.dom", "Node.copy"),
    ("metadata.extract", "trafilatura_spark.operators.metadata",
     "extract_metadata"),
    ("cleaning.clean", "trafilatura_spark.operators.cleaning",
     "tree_cleaning"),
    ("cleaning.clean", "trafilatura_spark.operators.cleaning", "clean_copy"),
    ("cleaning.convert", "trafilatura_spark.operators.cleaning",
     "convert_tags"),
    ("main_extractor.content", "trafilatura_spark.operators.main_extractor",
     "extract_content"),
    ("main_extractor.comments", "trafilatura_spark.operators.main_extractor",
     "extract_comments"),
    ("fallbacks.compare", "trafilatura_spark.operators.fallbacks",
     "compare_extraction"),
    ("readability.", "trafilatura_spark.operators.readability",
     "try_readability"),
    ("justext.", "trafilatura_spark.operators.justext", "justext_rescue"),
    ("baseline.", "trafilatura_spark.operators.baseline", "baseline"),
    ("render.emit", "trafilatura_spark.operators.render", "emit_spans"),
    ("render.txt", "trafilatura_spark.operators.render", "render_txt"),
    ("normalize.", "trafilatura_spark.operators.normalize",
     "normalize_output_tree"),
)


def seconds_metric(prefix: str) -> str:
    return prefix + "s" if prefix.endswith(".") else prefix + "_s"


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []     # name, start, end, parent, doc
        self.self_ns: Counter = Counter()
        self.calls: Counter = Counter()
        self.parse_bytes = 0
        self.compare_wins = 0
        self._stack: list[list] = []     # [span index, child ns]
        self._doc = -1
        self._undo: list[tuple] = []

    # -- wrapping ---------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if name == "core.bare_extraction":
                tracer._doc += 1
            elif name == "dom.parse" and args:
                tracer.parse_bytes += len(args[0])
            parent = tracer._stack[-1][0] if tracer._stack else -1
            idx = len(tracer.spans)
            tracer.spans.append(None)
            frame = [idx, 0]
            tracer._stack.append(frame)
            t0 = time.perf_counter_ns()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter_ns()
                tracer._stack.pop()
                dur = t1 - t0
                tracer.spans[idx] = (name, t0, t1, parent, tracer._doc)
                tracer.self_ns[name] += dur - frame[1]
                tracer.calls[name] += 1
                if tracer._stack:
                    tracer._stack[-1][1] += dur
            if name == "fallbacks.compare" and out[3] != "main":
                tracer.compare_wins += 1
            return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for _, modname, _ in LAYERS:
            importlib.import_module(modname)
        loaded = [m for n, m in list(sys.modules.items())
                  if n.startswith("trafilatura_spark") and m is not None]
        for name, modname, attr in LAYERS:
            mod = sys.modules[modname]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._undo.append((cls, meth, orig))
                setattr(cls, meth, self._wrap(name, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(name, orig)
            for m in loaded:
                for key, val in list(vars(m).items()):
                    if val is orig:
                        self._undo.append((m, key, orig))
                        setattr(m, key, wrapped)

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._undo):
            setattr(owner, key, orig)
        self._undo.clear()

    # -- results ----------------------------------------------------------
    def metrics(self) -> dict[str, float]:
        """Self seconds per layer, call counts and ratios."""
        out = {}
        for prefix in dict.fromkeys(p for p, _, _ in LAYERS):
            out[seconds_metric(prefix)] = self.self_ns[prefix] / 1e9
        total = sum(s[2] - s[1] for s in self.spans
                    if s[0] == "core.bare_extraction") / 1e9
        out["core.self_s"] = out.pop("core.bare_extraction_s")
        out["core.bare_extraction_s"] = total
        attributed = sum(v for k, v in out.items()
                         if k.endswith("s") and k not in (
                             "core.self_s", "core.bare_extraction_s",
                             "corpus.assemble_s"))
        out["trace.coverage_frac"] = attributed / total if total else 0.0
        out["dom.parse_mb"] = self.parse_bytes / 1e6
        out["dom.copy_calls"] = self.calls["dom.copy"]
        out["cleaning.clean_calls"] = self.calls["cleaning.clean"]
        out["baseline.calls"] = self.calls["baseline."]
        compares = self.calls["fallbacks.compare"]
        out["fallbacks.win_frac"] = (self.compare_wins / compares
                                     if compares else 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start_ns", "end_ns", "parent",
                                  "doc"], "spans": self.spans}, f)
