"""Per-document wall-clock watchdog (SURVEY.md §4.3 item 4).

The reference bounds per-document *exceptions* (core.dart:333-335 —
any failure becomes a null result, never a crash).  At 10^12 documents
that is not enough: one adversarial page whose markup drives a cascade
tier into pathological runtime wedges its Spark task forever, and
``spark.speculation`` only re-runs the same deterministic stall on
another executor.  Time must be bounded too.

Two cooperating mechanisms, both armed by ``doc_budget``:

- **SIGALRM** (``signal.setitimer``): interrupts pure-Python loops —
  the renderers, and the tokenizer and candidate walks when the C
  accelerator is not loaded — anywhere in a tier, mid-expression.
  Available only in the main thread of the process; PySpark's Python
  workers run the UDF in their main thread, so this is the common case
  on executors.
- **deadline checks at cascade-tier boundaries** (``check_deadline``):
  a monotonic-clock comparison against a module-global deadline,
  called between the pipeline's stages.  Portable backstop for the
  rare embedded/threaded caller where SIGALRM cannot be armed, and the
  only check that applies inside C regions, which never poll signals:
  the accelerator's walks, including the tokenizer ``_chtml.parse``,
  and CPython's ``sre`` mid-match.

Both raise ``DocTimeout``; ``core.bare_extraction`` converts it to a
``status='timeout'`` row — counted separately from ``error`` in
``extraction_metrics`` and the job's per-bucket wave metrics, because
a timeout is a *budget* decision (retryable with a higher budget)
while an error is a content defect.

Disabled by default (``Options.doc_timeout_sec = 0``): zero syscalls,
zero clock reads on the hot path, and byte-identical results.
"""

from __future__ import annotations

import signal
import threading
import time
from contextlib import contextmanager


class DocTimeout(BaseException):
    """Raised when a document exceeds its wall-clock budget.

    Derives from ``BaseException``, NOT ``Exception``: the extraction
    cascade mirrors the reference's swallow-to-null error handling with
    broad ``except Exception`` guards at its tier seams (try_readability,
    justext_rescue, the JSON-LD pass of extract_metadata).  A
    SIGALRM that fires mid-tier unwinds THROUGH those guards — if
    DocTimeout were an ``Exception`` they would convert the one-shot
    alarm into a tier-level null and extraction would continue with no
    timer left armed, so a second stall in a later tier would wedge the
    task unbounded (exactly the failure the watchdog exists to stop)
    and the document would be miscounted as rejected/error instead of
    timeout.  Only ``core.bare_extraction`` catches it, by name."""


# Module-global deadline for the cooperative checks.  Python workers
# process one document at a time in one thread, so a global (reset by
# every doc_budget enter/exit) is race-free in the execution model this
# engine targets; a hypothetical multi-threaded embedder merely gets
# conservative (earliest-deadline) behavior.
_deadline: float | None = None


def check_deadline() -> None:
    """Raise DocTimeout if the current document's budget is exhausted.

    No-op (one global load, no clock read) when no budget is armed —
    safe to sprinkle at stage boundaries without hot-path cost.
    """
    if _deadline is not None and time.monotonic() > _deadline:
        raise DocTimeout()


def clear_budget() -> None:
    """Best-effort disarm for the top-level DocTimeout converter.

    Signal delivery happens between any two bytecodes, so a vanishing
    window exists where the alarm lands after ``doc_budget``'s body
    raised but before its restore machinery is entered — the module
    global would then stay armed with a past deadline and poison
    check_deadline() for every later document.  ``core.bare_extraction``
    (the only top-level arm in the engine) calls this from its
    ``except DocTimeout`` handler: at that point no outer budget exists,
    so resetting to None is always correct, and any pending timer is
    cancelled (a no-op in the common case — the one-shot alarm already
    fired).  The SIGALRM handler itself is left alone: a stale handler
    with no timer armed is inert, while blindly resetting it could
    clobber a host application's own handler.
    """
    global _deadline
    _deadline = None
    if threading.current_thread() is threading.main_thread() \
            and hasattr(signal, "setitimer"):
        signal.setitimer(signal.ITIMER_REAL, 0)


@contextmanager
def doc_budget(seconds: float):
    """Arm a wall-clock budget for one document.

    ``seconds <= 0`` disables entirely.  Restores any previously armed
    SIGALRM handler/timer state on exit, so nesting degrades gracefully
    (the inner budget wins while active).
    """
    global _deadline
    if not seconds or seconds <= 0:
        yield
        return
    prev_deadline = _deadline
    _deadline = time.monotonic() + seconds
    use_alarm = threading.current_thread() is threading.main_thread() \
        and hasattr(signal, "setitimer")
    if use_alarm:
        def _on_alarm(signum, frame):
            raise DocTimeout()
        prev_handler = signal.signal(signal.SIGALRM, _on_alarm)
        prev_timer = signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        # The one-shot alarm can land INSIDE this finally block (signal
        # delivery happens between any two bytecodes), aborting the
        # remaining restore statements mid-way.  Nest the restores in
        # their own try/finally chain so a late DocTimeout cannot skip
        # them: a skipped ``_deadline`` reset would poison the module
        # global with a stale past deadline and make check_deadline()
        # time out EVERY later document in the worker.  (The alarm is
        # one-shot — setitimer with interval 0 — so at most one such
        # raise exists; after it fires no timer is pending.)
        try:
            if use_alarm:
                try:
                    signal.setitimer(signal.ITIMER_REAL, prev_timer[0] or 0,
                                     prev_timer[1] or 0)
                finally:
                    signal.signal(signal.SIGALRM, prev_handler)
        finally:
            _deadline = prev_deadline
