"""Optional C accelerator seam for the HTML tokenizer (SURVEY §8 lever (a)).

Compiles :mod:`trafilatura_spark._chtml` from the in-package C source with
the system ``gcc`` at first import (cached by source digest under
``~/.cache/trafilatura_spark``), and hands back its 14 entry points:
``parse``, ``copy_node`` and twelve tree walks and predicates (text,
search, cleaning, metadata, scoring and selector primitives), bound in
``dom.py`` as the ``_C*`` names.  Everything is best-effort: any
missing toolchain, failed compile, or failed import returns ``None``
with a ``RuntimeWarning`` that names the reason, and ``dom.py`` keeps
the pure-Python builder — the accelerator is a strict
drop-in (exact-tree differential pinned by tests/test_chtml.py), never a
requirement.  Set ``TRAFILATURA_SPARK_NO_CHTML=1`` to force the
pure-Python path (used by the differential tests themselves and as the
production escape hatch).

Concurrent builds (e.g. 32 Spark Python workers cold-starting at once)
are race-safe: each builder compiles to a unique temp file and
``os.replace``-s it into place, so racers converge on one artifact.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import subprocess
import sys
import tempfile
import warnings

_SOURCE = os.path.join(os.path.dirname(__file__), "_chtml.c")


def _cache_dir() -> str:
    env = os.environ.get("TRAFILATURA_SPARK_CHTML_CACHE")
    if env:
        return env
    return os.path.join(os.path.expanduser("~"), ".cache", "trafilatura_spark")


def _unavailable(reason: str) -> None:
    """Warn that the accelerator did not load: the pure-Python path is
    about 2x slower, and a cluster without gcc must not pay that unnoticed
    (dom calls ``load`` once per process, so this fires at most once)."""
    warnings.warn("trafilatura_spark C accelerator not loaded, using the "
                  f"pure-Python path (about 2x slower): {reason}",
                  RuntimeWarning, stacklevel=3)


def _tail(stderr: bytes) -> str:
    return stderr.decode(errors="replace").strip()[-400:]


def load(node_cls, void_elements, p_closers, p_close_barriers, implied_end,
         head_content, needs_implied, gate_tags, unescape):
    """Build/load the extension and wire it to dom's tables.

    Returns the entry-point tuple, or ``None`` when unavailable; that
    ``None`` is warned about unless ``TRAFILATURA_SPARK_NO_CHTML`` asked
    for it.
    """
    if os.environ.get("TRAFILATURA_SPARK_NO_CHTML"):
        return None
    try:
        with open(_SOURCE, "rb") as f:
            code = f.read()
    except OSError:
        # zip import (spark-submit --py-files): no real file path; pull
        # the source out of the archive via importlib.resources instead
        try:
            import importlib.resources as _res
            code = (_res.files("trafilatura_spark") / "_chtml.c").read_bytes()
        except Exception as exc:
            return _unavailable(f"C source not readable: {exc!r}")
    digest = hashlib.sha256(
        code + sys.version.encode() + sys.executable.encode()
    ).hexdigest()[:16]
    cache = _cache_dir()
    so_path = os.path.join(cache, f"_chtml_{digest}.so")
    fail_marker = os.path.join(cache, f"_chtml_{digest}.failed")
    if not os.path.exists(so_path):
        # negative cache: a host where the compile deterministically
        # fails (gcc present but headers broken, etc.) must not re-pay
        # the full gcc attempt on every worker cold start — the first
        # failure writes a digest-keyed marker and later imports fall
        # back immediately.  A new source digest gets a fresh attempt.
        if os.path.exists(fail_marker):
            try:
                with open(fail_marker, "rb") as f:
                    logged = _tail(f.read())
            except OSError as exc:
                logged = repr(exc)
            return _unavailable(
                f"an earlier compile failed (marker {fail_marker}): {logged}")
        try:
            os.makedirs(cache, exist_ok=True)
            import sysconfig
            include = sysconfig.get_paths()["include"]
            # compile from a cache-dir copy of the source: works whether
            # the package was imported from the filesystem or from a zip
            c_path = os.path.join(cache, f"_chtml_{digest}.c")
            if not os.path.exists(c_path):
                fd, ctmp = tempfile.mkstemp(suffix=".c", dir=cache)
                with os.fdopen(fd, "wb") as f:
                    f.write(code)
                os.replace(ctmp, c_path)
            fd, tmp = tempfile.mkstemp(suffix=".so", dir=cache)
            os.close(fd)
            try:
                res = subprocess.run(
                    ["gcc", "-O2", "-fPIC", "-shared", "-I", include,
                     c_path, "-o", tmp],
                    capture_output=True, timeout=180)
                if res.returncode != 0:
                    try:
                        fd2, mtmp = tempfile.mkstemp(dir=cache)
                        with os.fdopen(fd2, "wb") as mf:
                            mf.write(res.stderr[-4000:] or b"compile failed")
                        os.replace(mtmp, fail_marker)
                    except OSError:
                        pass
                    return _unavailable(f"gcc failed: {_tail(res.stderr)}")
                os.replace(tmp, so_path)  # atomic: racers converge
                tmp = None
            finally:
                if tmp is not None:
                    try:
                        os.unlink(tmp)
                    except OSError:
                        pass
        except Exception as exc:
            return _unavailable(f"build failed: {exc!r}")
    try:
        spec = importlib.util.spec_from_file_location(
            "trafilatura_spark._chtml", so_path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.setup(node_cls, void_elements, p_closers, p_close_barriers,
                  implied_end, head_content, needs_implied, gate_tags,
                  unescape)
        return (mod.parse, mod.copy_node, mod.text_content, mod.find_all,
                mod.iter_tree, mod.clean_copy_emit, mod.metadata_index,
                mod.collect_metrics, mod.bucket_by_tag, mod.table_hit,
                mod.attr_pair, mod.divs_to_rename, mod.brs_under_divs,
                mod.unlikely_walk)
    except Exception as exc:
        return _unavailable(f"import failed: {exc!r}")
