#!/usr/bin/env python3
"""Extraction benchmark: one seeded workload on local Spark.

    python3 perfbench/run.py --workload default-job --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run generates its input from the
seed, writes it to parquet, then:

1. launches the JVM and sets up ``SETUP_CYCLES`` Spark sessions in turn
   (session start, cold C-accelerator compile, Python worker spin-up,
   first extracted batch), reporting the median as ``setup_s``;
2. ``--trace 0``: warms up with untimed passes of the workload, then
   runs pass after pass until the passes have taken ``--seconds`` (at
   least ``MIN_PASSES``), timing wall and the CPU of the Spark process
   tree and sampling worker memory; every pass's output is checked
   between passes, out of the timing;
3. ``--trace 1``: runs the Spark boundary ladder, one instrumented
   workload pass read back through the monitoring REST API, and the
   workload's input single-process through ``make_extract_batches``
   untraced and then with every layer wrapped.

The last stdout line is the result JSON; the line before it is a
readable summary carrying the accelerator mode.  Metric names and units
come from BENCHMARK.json.  Everything the run writes stays under
``.bench_build/`` in the checkout and is removed at exit, except this
process's compiled accelerator cache and the last traced run's spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = max(1, min(4, os.cpu_count() or 1))
SETUP_CYCLES = 3
# the accelerator path a correct run must load: all 14 dom._C* bound
EXPECTED_MODE = "c14"
# run_extraction's own checkpoint layout defaults: 16 buckets, 8 per wave
JOB_BUCKETS = 16
# untimed passes before timing: the JVM keeps JIT-compiling the job's
# per-wave code for more passes than a run can afford, so the timed
# passes sit at fixed positions instead of on a flat cost
WARMUPS = {"job": 2, "operator": 1}
# timed passes at least, however long they take
MIN_PASSES = 3
# rows per pandas batch in the single-process loop, as make_session sets
# spark.sql.execution.arrow.maxRecordsPerBatch
LOOP_BATCH = 256


def _parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}",
          file=sys.stderr, flush=True)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _environment(run_dir: str, ui: bool) -> dict[str, str]:
    """Process environment that keeps Spark, the Python workers and the
    accelerator cache inside ``run_dir``.  The web UI (and with it the
    monitoring REST API) runs only when ``ui`` is set: the traced run
    reads stage metrics from it, the timed passes do not pay for it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                 "-XX:-UsePerfData")
    submit = [
        "--driver-memory", "2g",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", f"spark.local.dir={os.path.join(run_dir, 'local')}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'wh')}",
        "--conf", f"spark.ui.enabled={str(ui).lower()}",
        "--conf", "spark.ui.port=0",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ]
    path = os.environ.get("PYTHONPATH")
    return {
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + ([path] if path else [])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit),
    }


class Bench:
    def __init__(self, args, workload, run_dir: str, docs, options):
        self.args = args
        self.wl = workload
        self.docs = docs
        self.options = options
        self.run_dir = run_dir
        self.input_path = os.path.join(run_dir, "input")
        self.worker_cache = os.path.join(run_dir, "chtml-workers")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.digests: set[str] = set()

    # -- set-up -------------------------------------------------------------
    def launch_jvm(self) -> float:
        from pyspark import SparkContext
        os.environ["TRAFILATURA_SPARK_CHTML_CACHE"] = self.worker_cache
        t0 = time.perf_counter()
        SparkContext._ensure_initialized()
        dt = time.perf_counter() - t0
        os.environ["TRAFILATURA_SPARK_CHTML_CACHE"] = os.path.join(
            WORK, "chtml-local")
        return dt

    def setup(self) -> list[float]:
        """SETUP_CYCLES session start-ups, each with a cold accelerator
        cache; the last session stays up for the measurement."""
        import pandas as pd

        from trafilatura_spark.job import make_session
        from trafilatura_spark.operators.pipeline import extract_documents
        from trafilatura_spark.sources.corpus import DOCUMENTS_SCHEMA

        # one page per core; from pandas via Arrow, so no Python worker
        # runs before the extractor's own
        first = pd.DataFrame(
            [(d.doc_id, d.spans) for d in self.docs
             if d.family == "article"][:CORES], columns=["doc_id", "spans"])
        times = []
        for k in range(SETUP_CYCLES):
            shutil.rmtree(self.worker_cache, ignore_errors=True)
            t0 = time.perf_counter()
            spark = make_session(app_name="perfbench",
                                 master=f"local[{CORES}]")
            df = spark.createDataFrame(first, DOCUMENTS_SCHEMA)
            extract_documents(df, self.options).collect()
            times.append(time.perf_counter() - t0)
            if k + 1 < SETUP_CYCLES:
                spark.stop()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return times

    def accelerator_mode(self) -> tuple[str, int]:
        from sparkstats import accelerator_modes, mode_name
        modes = accelerator_modes(self.spark, CORES)
        names = sorted(mode_name(b) for b in modes)
        bound = min(len([x for x in b.split(",") if x]) for b in modes)
        return ("+".join(names), bound)

    # -- one workload run ------------------------------------------------
    def run_pass(self, i: int) -> dict:
        """One full pass of the workload: wall seconds, Spark-tree CPU
        seconds and the job summary.  Its outputs stay for check_pass."""
        from procstat import cpu_seconds
        from pyspark.sql import Observation, functions as F

        from trafilatura_spark.job import run_extraction
        from trafilatura_spark.operators.pipeline import extract_documents

        spark = self.spark
        out, prog = self.outputs(i)
        obs = Observation(f"check-{i}")
        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        docs = spark.read.parquet(self.input_path)
        summary = None
        if self.wl.mode == "job":
            summary = run_extraction(
                spark, docs, out, prog, run_id=f"it{i}",
                options=self.options, lineage=self.input_path)
        else:
            ex = extract_documents(docs, self.options).observe(
                obs, F.count(F.lit(1)).alias("n"),
                F.sum((F.col("status") == "ok").cast("long")).alias("ok"))
            ex.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        cpu1 = cpu_seconds()
        return {"i": i, "wall": wall, "obs": obs, "summary": summary,
                "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0}}

    def outputs(self, i: int) -> tuple[str, str]:
        return (os.path.join(self.run_dir, f"out-{i}"),
                os.path.join(self.run_dir, f"prog-{i}"))

    def check_pass(self, res: dict) -> None:
        """Checks one pass's outputs, counts its documents as attempted
        and failed, and removes the outputs."""
        out, prog = self.outputs(res["i"])
        self.attempted += len(self.docs)
        self.failed += self.check_run(out, prog, res["obs"])
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(prog, ignore_errors=True)

    def check_run(self, out: str, prog: str, obs) -> int:
        """Number of documents of this run that fail the output check."""
        n = len(self.docs)
        if self.wl.mode == "operator":
            got = obs.get
            bad = n - min(int(got.get("ok") or 0), n)
            if int(got.get("n") or 0) != n:
                self.notes.append(f"operator saw {got.get('n')} rows of {n}")
                bad = n
            return bad
        rows = (self.spark.read.parquet(out)
                .select("doc_id", "status", "tier", "spans").toPandas())
        bad = len(self.check_rows(zip(rows["doc_id"], rows["status"],
                                      rows["tier"], rows["spans"])))
        progress = self.spark.read.parquet(prog).toPandas()
        buckets = sorted(progress["bucket"])
        if buckets != list(range(JOB_BUCKETS)) or \
                int(progress["docs"].sum()) != n:
            self.notes.append("progress table does not cover the input")
            bad = n
        return bad

    def check_rows(self, rows) -> list[str]:
        """Per-document checks plus the whole-table digest, which must
        equal the pinned digest for this seed when one is pinned."""
        from workloads import check_rows, pinned_digest, table_digest
        rows = list(rows)
        bad = check_rows(self.wl, self.docs, rows)
        digest = table_digest(rows)
        self.digests.add(digest)
        pinned = pinned_digest(self.wl, self.args.seed)
        if pinned is not None and pinned != digest:
            self.notes.append(f"digest {digest} != pinned {pinned}")
            return [d.doc_id for d in self.docs]
        return bad

    def operator_rows(self):
        """The fast-operator outputs, collected once for the exact
        per-document check (timed passes write to the noop sink)."""
        from trafilatura_spark.operators.pipeline import extract_documents
        rows = (extract_documents(self.spark.read.parquet(self.input_path),
                                  self.options)
                .select("doc_id", "status", "tier", "spans").toPandas())
        return zip(rows["doc_id"], rows["status"], rows["tier"],
                   rows["spans"])

    def warm_up(self) -> None:
        for i in range(WARMUPS[self.wl.mode]):
            self.check_pass(self.run_pass(-1 - i))
        _log("warmed up")

    # -- trace 0 ------------------------------------------------------------
    def measure(self) -> dict:
        from procstat import WorkerMemory, host_jiffies

        if self.wl.mode == "operator":
            self.attempted += len(self.docs)
            self.failed += len(self.check_rows(self.operator_rows()))
        self.warm_up()
        runs = []
        timed = 0.0
        steal0 = host_jiffies()
        with WorkerMemory() as mem:
            # the window counts pass time only: checks run between passes
            while len(runs) < MIN_PASSES or timed < self.args.seconds:
                runs.append(self.run_pass(len(runs) + 1))
                timed += runs[-1]["wall"]
                self.check_pass(runs[-1])
        steal1 = host_jiffies()
        n = len(self.docs)
        return {
            "docs_per_s": statistics.median(n / r["wall"] for r in runs),
            "cpu_ms_per_doc": statistics.median(
                1000 * r["cpu"]["total"] / n for r in runs),
            "peak_worker_rss_mb": mem.peak_mb,
            "runs": len(runs),
            "walls": [round(r["wall"], 3) for r in runs],
            "steal_frac": ((steal1[0] - steal0[0])
                           / max(1, steal1[1] - steal0[1])),
        }

    # -- trace 1 ------------------------------------------------------------
    def trace(self) -> dict:
        from procstat import host_jiffies
        from pyspark.sql import DataFrameWriter
        from sparkstats import ladder, stage_metrics

        from trafilatura_spark.operators.pipeline import extract_documents

        m: dict[str, float] = {}
        m.update(ladder(self.spark, self.input_path,
                        lambda df: extract_documents(df, self.options),
                        min_seconds=self.args.seconds / 2))

        # one instrumented workload run: writes timed by target.  The job
        # writes parquet (output, then progress); the operator saves to
        # the noop sink.  Both writes evaluate the extract lazily.
        writes = {"out": 0.0, "prog": 0.0}
        originals = {"parquet": DataFrameWriter.parquet,
                     "save": DataFrameWriter.save}

        def timed(name):
            def call(writer, path=None, *a, **kw):
                t0 = time.perf_counter()
                try:
                    return originals[name](writer, path, *a, **kw)
                finally:
                    key = "prog" if path and os.path.basename(
                        path).startswith("prog") else "out"
                    writes[key] += time.perf_counter() - t0
            return call

        self.warm_up()
        sc = self.spark.sparkContext
        sc.setJobGroup("workload", "instrumented workload run")
        for name in originals:
            setattr(DataFrameWriter, name, timed(name))
        steal0 = host_jiffies()
        try:
            res = self.run_pass(1)
        finally:
            for name, fn in originals.items():
                setattr(DataFrameWriter, name, fn)
            sc.setJobGroup("checks", "output checks")
        steal1 = host_jiffies()
        self.check_pass(res)
        m.update(stage_metrics(self.spark, "workload"))
        m["job.write_s"] = writes["out"]
        m["job.progress_s"] = writes["prog"]
        m["job.waves"] = (res["summary"] or {}).get("waves", 0)
        m["job.wall_s"] = res["wall"]
        m["proc.jvm_cpu_s"] = res["cpu"]["jvm"]
        m["proc.python_cpu_s"] = res["cpu"]["python"]
        m["host.steal_frac"] = ((steal1[0] - steal0[0])
                                / max(1, steal1[1] - steal0[1]))
        m.update(self.single_process())
        return m

    def single_process(self) -> dict:
        """The workload's input through make_extract_batches in this
        process, untraced and traced; self times per layer."""
        import pyarrow.parquet as pq
        from layers import Tracer

        from trafilatura_spark.operators.pipeline import make_extract_batches

        table = pq.read_table(self.input_path)
        batches = [b.to_pandas() for b in
                   table.to_batches(max_chunksize=LOOP_BATCH)]

        extract = make_extract_batches(self.options)

        def timed(batch):
            t0 = time.perf_counter()
            out = list(extract(iter([batch])))
            return out, time.perf_counter() - t0

        def traced(batch):
            tracer.install()
            try:
                return timed(batch)
            finally:
                tracer.uninstall()

        timed(batches[0])   # imports and first-call set-up, untimed
        # every batch runs untraced and traced, in turn first: drift of
        # the host's speed and the second run's warm caches fall on both
        # sides alike
        tracer = Tracer()
        frames, untraced_s, traced_s = [], 0.0, 0.0
        for k, batch in enumerate(batches):
            if k % 2:
                out, dt = traced(batch)
                untraced_s += timed(batch)[1]
            else:
                untraced_s += timed(batch)[1]
                out, dt = traced(batch)
            frames += out
            traced_s += dt
        tracer.dump(os.path.join(WORK, f"spans-{self.wl.name}.json"))
        m = tracer.metrics()
        m["pipeline.batches"] = len(batches)
        m["pipeline.overhead_s"] = traced_s - m["core.bare_extraction_s"]
        m["trace.overhead_frac"] = traced_s / untraced_s - 1
        m["loop.untraced_s"] = untraced_s
        rows = [r for f in frames for r in zip(f["doc_id"], f["status"],
                                              f["tier"], f["spans"])]
        # other statuses fail the output check and count in ``failed``
        m["core.status.ok"] = sum(1 for r in rows if r[1] == "ok")
        for key in ("main", "readability", "justext"):
            m[f"core.tier.{key}"] = sum(1 for r in rows if r[2] == key)
        self.attempted += len(self.docs)
        self.failed += len(self.check_rows(rows))
        return m

    # -- teardown -----------------------------------------------------------
    def close(self) -> None:
        from procstat import _processes, _tree
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 20
        while True:
            left = _tree(_processes(), os.getpid())
            if not left:
                break
            if time.time() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, 9)
                    except OSError:
                        pass
                deadline = time.time() + 5
            time.sleep(0.2)


def main() -> int:
    args = _parse_args()
    if not os.path.isdir(os.path.join(ROOT, "trafilatura_spark")):
        return _fail(f"the program (trafilatura_spark/) is not under {ROOT}")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as exc:
        return _fail(f"cannot read BENCHMARK.json: {exc}")
    sys.path.insert(0, ROOT)
    os.environ["TRAFILATURA_SPARK_CHTML_CACHE"] = os.path.join(
        WORK, "chtml-local")
    import workloads
    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        return _fail(f"unknown workload {args.workload!r}; "
                     f"one of {sorted(workloads.WORKLOADS)}")
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ.update(_environment(run_dir, ui=bool(args.trace)))
    bench = Bench(args, wl, run_dir, workloads.generate(wl, args.seed),
                  workloads.options(wl))
    try:
        html_bytes = workloads.write_parquet(bench.docs, bench.input_path)
        _log("input written")
        jvm_s = bench.launch_jvm()
        setups = bench.setup()
        mode, bound = bench.accelerator_mode()
        _log(f"set up: {setups}")
        if args.trace:
            measured = bench.trace()
            measured["spark.jvm_launch_s"] = jvm_s
            measured["chtml.bound"] = bound
            wanted = spec["per_layer"]
        else:
            measured = bench.measure()
            measured["setup_s"] = statistics.median(setups)
            wanted = spec["end_to_end"]
        _log("measured")
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        _log("closed")

    if mode != EXPECTED_MODE:
        bench.notes.append(f"accelerator mode {mode} != {EXPECTED_MODE}")
        bench.failed = bench.attempted
    failed = min(bench.failed, bench.attempted)
    summary = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        # setup() empties the workers' accelerator cache before every
        # set-up, so the .so is never cached before set-up
        "accelerator_mode": mode, "accelerator_cache": "cold",
        "cores": CORES, "docs": len(bench.docs),
        "input_html_mb": html_bytes / 1e6,
        "setup_samples_s": setups,
        "failed_frac": {"value": failed / max(1, bench.attempted),
                        "unit": "frac"},
        "digests": sorted(bench.digests), "notes": bench.notes,
    }
    summary.update({k: v for k, v in measured.items()
                    if k not in {m["name"] for m in wanted}})
    summary.update({m["name"]: {"value": measured[m["name"]],
                                "unit": m["unit"]} for m in wanted})
    print(json.dumps(summary))
    result = {
        "correct": failed == 0,
        "attempted": max(1, bench.attempted),
        "failed": failed,
        "metrics": {m["name"]: {"value": measured[m["name"]],
                                "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
