"""CPU time and resident memory of this process and everything it started.

Reads /proc directly: the tree is this process, the Spark JVM it
launched, the JVM's Python daemon and the workers the daemon forks.
CPU time counts utime + stime of the live processes plus cutime + cstime,
which holds the time of children already reaped by a process in the tree.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name sits in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> List[int]:
    """`root` and every live process below it."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """utime + stime + cutime + cstime summed over the tree, in seconds."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def python_workers(root: int) -> List[int]:
    """The tree's Python daemon and worker processes."""
    out = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" in fh.read():
                    out.append(pid)
        except OSError:
            pass
    return out


def rss_bytes(pids: List[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/uptime", "rb") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


def worker_peak_rss_bytes(root: int) -> int:
    """Largest VmHWM over the tree's Python worker processes."""
    peak = 0
    for pid in python_workers(root):
        try:
            with open(f"/proc/{pid}/status", "rb") as fh:
                for line in fh:
                    if line.startswith(b"VmHWM:"):
                        peak = max(peak, int(line.split()[1]) * 1024)
        except (OSError, ValueError):
            pass
    return peak


class RssSampler:
    """Samples the summed RSS of the driver, the JVM and the Python workers
    on a thread while `active` is set, and keeps the peak.

    Other processes in the tree are left out: the JVM starts short-lived
    helpers (``chmod`` for every file it writes) with vfork, and a vfork
    child reports its parent's whole RSS until it execs."""

    def __init__(self, main_pids: List[int], interval_s: float = 0.25
                 ) -> None:
        self.main_pids = main_pids
        self.interval_s = interval_s
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self.active.is_set():
                pids = self.main_pids + python_workers(self.main_pids[0])
                self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
