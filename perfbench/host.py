"""Host readings that make a noisy run visible: cores, CPU steal and the
resident memory of the benchmark's process tree (driver Python, the
Spark JVM and its Python workers)."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age() -> float:
    """Seconds since this process started (its /proc start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> dict[str, int]:
    """Aggregate /proc/stat cpu counters (USER_HZ ticks)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return dict(zip(names, map(int, parts[1:9])))


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of all CPU ticks between two readings that the hypervisor
    stole from this VM."""
    total = sum(after.values()) - sum(before.values())
    return (after["steal"] - before["steal"]) / total if total else 0.0


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def _pss(pid: int) -> int:
    """Proportional set size: shared pages (a forked Python worker
    shares most of its daemon's) are split between their users rather
    than counted once per process. Reading it walks the page tables, so
    it is only taken for the small worker processes."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def process_table() -> dict[int, tuple[int, str]]:
    """pid → (ppid, command line) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        out[int(name)] = (int(stat.rsplit(")", 1)[1].split()[1]), cmd)
    return out


def descendants(root: int, procs: dict[int, tuple[int, str]] | None = None) -> list[int]:
    """Every live descendant of ``root``."""
    procs = process_table() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_memory(root: int) -> dict[str, int]:
    """Resident memory of ``root`` and its descendants, split into
    driver, jvm (both RSS) and python_workers (PSS: they are forks of one
    daemon)."""
    procs = process_table()
    split = {"driver": 0, "jvm": 0, "python_workers": 0}

    def is_java(pid: int) -> bool:
        return "java" in procs.get(pid, (0, ""))[1].split(" ", 1)[0]

    for pid in [root] + descendants(root, procs):
        cmd = procs.get(pid, (0, ""))[1]
        try:
            if pid == root:
                split["driver"] += _rss(pid)
            elif is_java(pid):
                # A java child of the JVM is a fork that has not exec'd yet
                # (Hadoop's local file system spawns chmod for every file it
                # writes); its RSS is the JVM's own pages counted again.
                if not is_java(procs[pid][0]):
                    split["jvm"] += _rss(pid)
            elif "python" in cmd:
                split["python_workers"] += _pss(pid)
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return split


class RssSampler:
    """Background thread tracking the high-water resident memory of the
    process tree."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = {"total": 0, "driver": 0, "jvm": 0, "python_workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler",
                                        daemon=True)

    def sample(self) -> None:
        split = tree_memory(os.getpid())
        split["total"] = sum(split.values())
        for k, v in split.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Take a last sample and end the thread; later calls, and calls
        before ``start``, do nothing."""
        if self._stop.is_set() or self._thread.ident is None:
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def peak_mb(self, key: str = "total") -> float:
        return self.peak[key] / 2**20
