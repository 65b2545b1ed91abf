"""Host facts recorded with every run, and the peak-RSS sampler.

psutil is not available, so both read /proc directly (Linux only).
"""

from __future__ import annotations

import os
import sys
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_info(probe_seconds: float = 0.5) -> dict:
    """nproc, total memory and the repo's memory-bandwidth probe
    (tools/scaling_bench.copy_bandwidth), so a noisy host window shows."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from scaling_bench import copy_bandwidth

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(os.sysconf("SC_PHYS_PAGES") * _PAGE / 2**20),
        "copy_gbps": round(copy_bandwidth(probe_seconds) / 1e9, 3),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may hold spaces/parens: the ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of root_pid and of its Python descendants (the
    PySpark daemon and workers). Other descendants are skipped: a child
    the JVM forks to exec a helper (chmod, ...) reports the whole JVM's
    resident set until it execs, which would count the JVM twice."""
    kids = _children_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            if pid != root_pid:
                with open(f"/proc/{pid}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
            total += _rss(pid)
        except OSError:  # exited while we looked
            continue
        stack.extend(kids.get(pid, ()))
    return total


class PeakRss:
    """Samples the RSS of a process tree (the driver JVM and the Python
    workers it forks) on a background thread from start() to stop();
    `peak_mb` is the largest sum seen."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root_pid))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
