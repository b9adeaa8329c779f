"""Spark-side measurements: the boundary ladder, the monitoring REST API
and the accelerator-mode probe that runs inside a Python worker."""

from __future__ import annotations

import json
import statistics
import time
import urllib.request

DOM_ENTRY_POINTS = ("_CPARSE", "_CCOPY", "_CTEXT", "_CFINDALL", "_CITER",
                    "_CCLEANCOPY", "_CMETAIDX", "_CMETRICS", "_CBUCKETS",
                    "_CTABLEHIT", "_CATTRPAIR", "_CDIVS", "_CBRS",
                    "_CUNLIKELY")
# ladder rounds: at least LADDER_MIN, then more while time is left, up to
# LADDER_MAX
LADDER_MIN = 2
LADDER_MAX = 5


def _mode_batches(batches):
    """mapInPandas body: report which ``dom._C*`` entry points are bound
    in this worker."""
    import pandas as pd

    from trafilatura_spark import dom
    bound = [n for n in DOM_ENTRY_POINTS if getattr(dom, n) is not None]
    for _ in batches:
        pass
    yield pd.DataFrame({"bound": [",".join(bound)]})


def accelerator_modes(spark, partitions: int) -> set[str]:
    """The set of bound-entry-point lists seen across ``partitions``
    worker tasks."""
    df = spark.range(partitions, numPartitions=partitions)
    rows = df.mapInPandas(_mode_batches, "bound string").collect()
    return {r["bound"] for r in rows}


def mode_name(bound: str) -> str:
    """'c14' when all 14 entry points are bound, 'py' when none, else
    'c<k>'."""
    k = len([b for b in bound.split(",") if b])
    return "py" if k == 0 else f"c{k}"


def _identity(batches):
    yield from batches


def ladder(spark, input_path: str, extract,
           min_seconds: float) -> dict[str, float]:
    """Interleaved JVM-only scan, identity ``mapInPandas`` and full
    extract over the same input, each written to the ``noop`` sink.
    Medians over the rounds, in seconds."""
    df = spark.read.parquet(input_path)
    steps = {
        "scan": df,
        "identity": df.mapInPandas(_identity, df.schema),
        "extract": extract(df),
    }
    times: dict[str, list[float]] = {k: [] for k in steps}
    t_start = time.perf_counter()
    while len(times["scan"]) < LADDER_MAX and (
            len(times["scan"]) < LADDER_MIN
            or time.perf_counter() - t_start < min_seconds):
        for name, frame in steps.items():
            t0 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            times[name].append(time.perf_counter() - t0)
    med = {k: statistics.median(v) for k, v in times.items()}
    return {
        "spark.scan_s": med["scan"],
        "spark.arrow_roundtrip_s": med["identity"] - med["scan"],
        "spark.extract_s": med["extract"],
        "spark.ladder_rounds": len(times["scan"]),
    }


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def stage_metrics(spark, group: str) -> dict[str, float]:
    """Per-stage numbers for every job run under ``group``, from the
    local monitoring REST API.  Task quantiles and skew pool the tasks of
    the heavy stages: those whose executor run time is at least a quarter
    of the longest stage's (the stages running the extractor)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    stages: list[tuple[int, list[int]]] = []   # (run ms, task durations)
    gc_ms = in_bytes = out_bytes = 0
    peak_mem = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        for sid in (info.stageIds if info else []):
            attempts = []
            for _ in range(50):   # the status store updates asynchronously
                attempts = _get(f"{base}/stages/{sid}")
                if all(a["status"] not in ("ACTIVE", "PENDING")
                       for a in attempts):
                    break
                time.sleep(0.1)
            for a in attempts:
                if a["status"] != "COMPLETE":
                    continue
                in_bytes += a.get("inputBytes", 0)
                out_bytes += a.get("outputBytes", 0)
                tasks = _get(f"{base}/stages/{sid}/{a['attemptId']}"
                             "/taskList?length=1000000")
                durs = []
                for t in tasks:
                    m = t.get("taskMetrics") or {}
                    gc_ms += m.get("jvmGcTime", 0)
                    peak_mem = max(peak_mem, m.get("peakExecutionMemory", 0))
                    durs.append(t.get("duration", 0))
                stages.append((a.get("executorRunTime", sum(durs)), durs))
    longest = max((run for run, _ in stages), default=0)
    heavy = [d for run, durs in stages if run >= longest / 4 for d in durs]
    med = statistics.median(heavy) if heavy else 0.0
    top = max(heavy) if heavy else 0.0
    return {
        "spark.task_p50_ms": med,
        "spark.task_max_ms": top,
        "spark.task_skew": top / med if med else 0.0,
        "spark.gc_s": gc_ms / 1000,
        "spark.peak_exec_mem_mb": peak_mem / 2**20,
        "spark.input_mb": in_bytes / 1e6,
        "spark.output_mb": out_bytes / 1e6,
    }
