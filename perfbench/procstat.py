"""CPU and memory of the local Spark process tree, read from ``/proc``.

The tree is every descendant of the benchmark's own process: the JVM
that ``spark-submit`` execs into, the ``pyspark.daemon`` it starts and
the Python workers the daemon forks.  The benchmark process itself is
left out: it hosts the sampler thread.

CPU of a process that exits and is reaped lands in its parent's
``cutime``/``cstime``, so summing ``utime + stime + cutime + cstime``
over the live tree counts every tick exactly once across snapshots.
"""

from __future__ import annotations

import os
import threading

CLK = os.sysconf("SC_CLK_TCK")
# seconds between worker memory samples
SAMPLE_INTERVAL = 0.2


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return None


def _processes() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, own cpu ticks, reaped children's ticks, cmdline)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat is None:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        own = int(fields[11]) + int(fields[12])
        children = int(fields[13]) + int(fields[14])
        cmd = (_read(f"/proc/{name}/cmdline") or "").replace("\0", " ")
        out[int(name)] = (int(fields[1]), own, children, cmd)
    return out


def _tree(procs, root: int) -> dict[int, str]:
    """Descendants of ``root`` classified as 'jvm', 'daemon', 'worker'
    or 'other'."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    kind: dict[int, str] = {}
    stack = [(c, root) for c in kids.get(root, [])]
    while stack:
        pid, parent = stack.pop()
        cmd = procs[pid][3]
        if "pyspark.daemon" in cmd or "pyspark/daemon" in cmd:
            kind[pid] = "worker" if kind.get(parent) == "daemon" else "daemon"
        elif "java" in cmd.split(" ", 1)[0]:
            kind[pid] = "jvm"
        else:
            kind[pid] = "other"
        stack += [(c, pid) for c in kids.get(pid, [])]
    return kind


def cpu_seconds() -> dict[str, float]:
    """CPU seconds so far of the Spark process tree: ``jvm`` (the JVM's
    own threads), ``python`` (daemon + workers, live and reaped) and
    ``total`` (everything, including children reaped by the JVM)."""
    procs = _processes()
    kinds = _tree(procs, os.getpid())
    out = {"jvm": 0.0, "python": 0.0, "total": 0.0}
    for pid, kind in kinds.items():
        _, own, children, _ = procs[pid]
        out["total"] += (own + children) / CLK
        if kind in ("daemon", "worker"):
            out["python"] += (own + children) / CLK
        elif kind == "jvm":
            out["jvm"] += own / CLK
    return out


def host_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat."""
    vals = [int(v) for v in (_read("/proc/stat") or "cpu 0").split("\n")[0]
            .split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _hwm_kb(pid: int) -> int:
    for line in (_read(f"/proc/{pid}/status") or "").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


class WorkerMemory:
    """Background sampler of the highest resident set size (``VmHWM``)
    reached by any single Python worker while it runs."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        procs = _processes()
        for pid, kind in _tree(procs, os.getpid()).items():
            if kind == "worker":
                self.peak_kb = max(self.peak_kb, _hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL):
            self.sample()

    def __enter__(self) -> "WorkerMemory":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
