"""CPU time and resident memory of a process tree, sampled from ``/proc``.

A background thread walks ``/proc`` every ``interval`` seconds, finds every
descendant of the root pid (the driver, its JVM, the Python workers the JVM
forks, a CLI subprocess and its JVM) and records each process's user+sys
ticks and resident set size.  A process is keyed by (pid, start time), so a
reused pid is never mistaken for the process that held it before.

CPU of a process that exits between two samples is counted up to its last
sample, so at most one interval of its time is lost.  A JVM's child that
has not yet run ``exec`` (still the JVM's binary, or ``jspawnhelper``) is
left out: it lives for a moment while the JVM starts a Python daemon and
shows the JVM's whole resident set as its own.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _uptime_ticks() -> float:
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) * _TICK


def _stat(pid: str):
    """(ppid, start_ticks, cpu_ticks, rss_bytes, comm) or None if the
    process vanished."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    return (int(fields[1]), int(fields[19]), int(fields[11]) + int(fields[12]),
            int(fields[21]) * _PAGE, raw[raw.index("(") + 1:raw.rindex(")")])


def _exe(pid: int):
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _jvm_fork(pid: int, stats) -> bool:
    st = stats[pid]
    parent = stats.get(st[0])
    if parent is None or parent[4] != "java":
        return False
    exe = _exe(pid)
    return exe is None or exe == _exe(st[0]) or exe.endswith("/jspawnhelper")


class TreeSampler:
    """Samples the tree under ``root_pid`` until ``stop()``.

    ``cpu_s()`` is the tree's CPU seconds since the sampler started;
    ``take_peak_rss()`` returns the highest summed RSS since the previous
    call and starts a new window."""

    def __init__(self, root_pid: int | None = None, interval: float = 0.1):
        self.root = root_pid or os.getpid()
        self.interval = interval
        self._t0_ticks = _uptime_ticks()
        self._base: dict = {}   # (pid, start) -> ticks at first sight
        self._last: dict = {}   # (pid, start) -> ticks at latest sight
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.sample()
        self._thread.start()

    def sample(self) -> None:
        stats = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat(pid)
                if st is not None:
                    stats[int(pid)] = st
        children: dict = {}
        for pid, st in stats.items():
            children.setdefault(st[0], []).append(pid)
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats and not _jvm_fork(pid, stats):
                tree.append(pid)
                todo.extend(children.get(pid, ()))
        rss = 0
        with self._lock:
            for pid in tree:
                _, start, ticks, r, _ = stats[pid]
                key = (pid, start)
                if key not in self._base:
                    # a process born after the sampler started counts from 0
                    self._base[key] = ticks if start < self._t0_ticks else 0
                self._last[key] = ticks
                rss += r
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def cpu_s(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._last[k] - self._base[k] for k in self._last) / _TICK

    def take_peak_rss(self) -> int:
        self.sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def wait_gone(self, timeout: float, keep: int | None = None) -> bool:
        """Wait until every process seen in the tree, except ``keep``, has
        exited."""
        deadline = time.monotonic() + timeout
        with self._lock:
            seen = [k for k in self._last if k[0] != keep]
        while time.monotonic() < deadline:
            alive = [k for k in seen
                     if (st := _stat(str(k[0]))) is not None and st[1] == k[1]]
            if not alive:
                return True
            time.sleep(0.05)
        return False

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
