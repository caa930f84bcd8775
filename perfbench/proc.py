"""CPU time and resident memory of the benchmark's process tree, read
from /proc: this Python process (the Spark driver's Python side and the
HTTP server threads), the JVM it launches, and the Python workers the
JVM forks."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """``(comm, ppid, cpu_s)``; cpu includes reaped children, so the
    time of workers that already exited stays with their parent."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm start at index 3 (state); utime is 14, cstime 17
    cpu = sum(int(x) for x in f[11:15]) / _TICK
    return comm, int(f[1]), cpu


def tree(root: int | None = None) -> dict[int, tuple[str, int, float]]:
    """Every live process under ``root`` (default: this process),
    including helpers the JVM forks for a moment (their CPU time is
    reaped into the JVM's once they exit)."""
    root = root or os.getpid()
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    keep = {root}
    changed = True
    while changed:
        changed = False
        for pid, (_c, ppid, _cpu) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return {p: procs[p] for p in keep if p in procs}


def cpu_by_role(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far, split into driver Python, JVM and Python
    workers (everything else under the JVM)."""
    root = root or os.getpid()
    out = {"driver_py": 0.0, "jvm": 0.0, "py_worker": 0.0}
    for pid, (comm, _ppid, cpu) in tree(root).items():
        if pid == root:
            out["driver_py"] += cpu
        elif comm == "java":
            out["jvm"] += cpu
        else:
            out["py_worker"] += cpu
    return out


def pss_by_process(root: int | None = None) -> dict[int, tuple[str, int]]:
    """``{pid: (comm, Pss bytes)}`` over the tree. Pss (proportional set
    size) counts a page a forked Python worker shares with its parent
    once, not once per worker."""
    out = {}
    for pid, (comm, _ppid, _cpu) in tree(root).items():
        if comm != "java" and not comm.startswith("python"):
            # a JVM thread's fork before its exec: a copy of the JVM
            # whose pages would be counted twice
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[pid] = (comm, int(line.split()[1]) * 1024)
                        break
        except OSError:
            pass
    return out



class PeakRss:
    """Background sampler of the tree's summed Pss; ``peak`` is the
    highest sample seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: list = []  # (comm, MB) of every process at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            procs = pss_by_process()
            total = sum(b for _c, b in procs.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = sorted((c, b >> 20) for c, b in procs.values())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]
