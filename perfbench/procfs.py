"""Process readings from /proc: the Spark JVM, its pyspark daemon and the
daemon's Python workers (Linux only).
"""

from __future__ import annotations

import os
import threading
from typing import List

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the `steal` column of /proc/stat): a host-contention reading that
    explains slow runs the program did not cause."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def children(pid: int) -> List[int]:
    out: List[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            pass
    return out


def descendants(pid: int) -> List[int]:
    out, todo = [], children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children(p))
    return out


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name (field 2) may hold spaces; fields after it do not
    return raw[raw.rindex(")") + 2 :].split()


def rss_bytes(pids: List[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total


def python_daemons(jvm_pid: int) -> List[int]:
    """The JVM's Python children: the pyspark daemon (workers fork from it)."""
    out = []
    for p in children(jvm_pid):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"pyspark" in f.read():
                    out.append(p)
        except FileNotFoundError:
            pass
    return out


def python_cpu_s(daemons: List[int]) -> float:
    """CPU seconds of the given pyspark daemons and their workers, counting
    live workers' own time and the time of workers a daemon already reaped
    (cutime/cstime), so the total only grows while the daemons live."""
    ticks = 0
    for d in daemons:
        try:
            f = _stat_fields(d)
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
        except (FileNotFoundError, ProcessLookupError):
            continue
        for w in descendants(d):
            try:
                ticks += sum(int(x) for x in _stat_fields(w)[11:13])
            except (FileNotFoundError, ProcessLookupError):
                pass
    return ticks / _TICK


class PeakRss:
    """Samples the RSS of the JVM plus all its descendants (pyspark daemon
    and workers) on a background thread; `peak` is the highest sum seen.
    The thread only reads /proc (the process tree once a second, the RSS
    every `interval_s`), so it adds next to no load to Spark."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak = 0
        self._pids: List[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, refresh: bool) -> None:
        if refresh:
            self._pids = [self.jvm_pid] + descendants(self.jvm_pid)
        self.peak = max(self.peak, rss_bytes(self._pids))

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(self.interval_s):
            n += 1
            self._sample(refresh=n % round(1 / self.interval_s) == 0)

    def __enter__(self) -> "PeakRss":
        self._sample(refresh=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample(refresh=True)
