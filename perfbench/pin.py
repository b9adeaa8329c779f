#!/usr/bin/env python3
"""Pin the expected output digest of each workload for a range of seeds.

    python3 perfbench/pin.py --seeds 0-49 [--jobs 2]

Runs every workload's seeded input single-process through
``make_extract_batches`` (no Spark) and stores the order-independent
digest of (doc_id, status, tier, spans) in ``perfbench/pinned.json``.
``run.py`` fails a run whose output digest differs from the pinned one.
Re-pin only when a change to the program is meant to change its output.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)
os.environ.setdefault("TRAFILATURA_SPARK_CHTML_CACHE", os.path.join(
    os.path.dirname(HERE), ".bench_build", "perfbench", "chtml-local"))


def digest(task: tuple[str, int]) -> tuple[str, int, str, int]:
    import pandas as pd

    import workloads
    from trafilatura_spark.operators.pipeline import make_extract_batches

    name, seed = task
    wl = workloads.WORKLOADS[name]
    docs = workloads.generate(wl, seed)
    batches = [pd.DataFrame({"doc_id": [d.doc_id for d in docs[i:i + 256]],
                             "spans": [d.spans for d in docs[i:i + 256]]})
               for i in range(0, len(docs), 256)]
    rows = [r for f in make_extract_batches(workloads.options(wl))(
                iter(batches))
            for r in zip(f["doc_id"], f["status"], f["tier"], f["spans"])]
    bad = workloads.check_rows(wl, docs, rows)
    return name, seed, workloads.table_digest(rows), len(bad)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", required=True, help="e.g. 0-49")
    p.add_argument("--jobs", type=int, default=1)
    args = p.parse_args()
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)

    import workloads
    tasks = [(w, s) for w in workloads.WORKLOADS for s in seeds]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(args.jobs) as pool:
        results = pool.map(digest, tasks)
    failed = [(n, s, bad) for n, s, _, bad in results if bad]
    if failed:
        print(f"outputs fail the check, nothing pinned: {failed}",
              file=sys.stderr)
        return 1
    try:
        with open(workloads.PINNED_PATH) as f:
            pins = json.load(f)
    except FileNotFoundError:
        pins = {}
    for name, seed, dig, _ in results:
        pins.setdefault(name, {})[str(seed)] = dig
    pins = {n: dict(sorted(v.items(), key=lambda kv: int(kv[0])))
            for n, v in sorted(pins.items())}
    with open(workloads.PINNED_PATH, "w") as f:
        json.dump(pins, f, indent=1)
        f.write("\n")
    print(f"pinned {len(results)} digests")
    return 0


if __name__ == "__main__":
    sys.exit(main())
