"""CPU time and resident memory of this process tree, read from /proc.

The tree is the benchmark's Python driver, the Spark JVM it launches and
the Python workers the JVM forks. CPU time sums utime+stime+cutime+cstime
over the live tree, so a worker that exits is still counted once its
parent reaps it. Peak memory (summed PSS, so pages a forked worker shares
with its parent count once) is sampled by a background thread.

Also the idle-box guard: load average, CPU used by processes outside the
tree and CPU steal, taken around each set of runs.
"""

from __future__ import annotations

import os
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3): ppid is field 4, times 14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / TICK


def all_stats() -> dict[int, tuple[int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(root: int, stats: dict[int, tuple[int, float]]) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo.extend(kids.get(p, ()))
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    root = root or os.getpid()
    stats = all_stats()
    return sum(stats[p][1] for p in tree(root, stats) if p in stats)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forked workers count once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the tree's resident memory (summed PSS) every `interval` s
    while running."""

    def __init__(self, interval: float = 0.1, root: int | None = None):
        self.interval = interval
        self.root = root or os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> PeakRss:
        self._pids = tree(self.root, all_stats())
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        last_scan = time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - last_scan > 0.5:  # pick up new workers
                self._pids = tree(self.root, all_stats())
                last_scan = time.monotonic()
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in self._pids))
            self._stop.wait(self.interval)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, sum(_pss_bytes(p) for p in tree(self.root, all_stats())))


def descendants() -> set[int]:
    return tree(os.getpid(), all_stats()) - {os.getpid()}


class IdleGuard:
    """Load average and foreign CPU use around a set of runs.

    A set is flagged contaminated when processes outside this tree used
    more than `max_foreign_cores` cores on average while it ran, or when
    more than `max_steal_share` of the CPU time went to steal (other
    guests of a shared host). The load average is recorded but not judged:
    it still carries the previous run's load when runs follow each other."""

    def __init__(self, max_foreign_cores: float = 0.25, max_steal_share: float = 0.01):
        self.max_foreign_cores = max_foreign_cores
        self.max_steal_share = max_steal_share

    @staticmethod
    def loadavg() -> list[float]:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]

    @staticmethod
    def cpu_ticks() -> tuple[int, int]:
        """(steal, total) jiffies of all CPUs: time a hypervisor gave this
        machine's CPUs to someone else shows as steal."""
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks[:8])

    def start(self) -> None:
        self.t0 = time.monotonic()
        self.load0 = self.loadavg()
        self.ticks0 = self.cpu_ticks()
        self.cpu0 = {p: c for p, (_, c) in all_stats().items()}

    def stop(self) -> dict:
        dt = max(time.monotonic() - self.t0, 1e-9)
        stats = all_stats()
        mine = tree(os.getpid(), stats)
        busy = []
        for pid, (_, cpu) in stats.items():
            if pid in mine:
                continue
            used = cpu - self.cpu0.get(pid, 0.0)
            if used / dt > 0.05:
                busy.append({"pid": pid, "cmd": _cmd(pid), "cores": round(used / dt, 3)})
        foreign = sum(b["cores"] for b in busy)
        busy.sort(key=lambda b: -b["cores"])
        steal, total = (b - a for a, b in zip(self.ticks0, self.cpu_ticks()))
        steal_share = steal / total if total else 0.0
        return {
            "loadavg_start": self.load0,
            "loadavg_end": self.loadavg(),
            "foreign_cores": round(foreign, 3),
            "steal_share": round(steal_share, 4),
            "busy_processes": busy[:8],
            "contaminated": foreign > self.max_foreign_cores
            or steal_share > self.max_steal_share,
        }


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[:120]
    except OSError:
        return "?"
