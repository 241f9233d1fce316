"""Process-tree readings from ``/proc``: CPU seconds and resident memory
of this process plus every descendant (the JVM that spark-submit
launches and the Python workers the JVM forks).

Executor CPU as Spark's task metrics report it covers JVM threads only;
the factory's extraction and matching run in Python workers, so CPU is
read from the kernel's per-process accounting instead.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_rows():
    """pid -> (ppid, cpu_ticks incl. reaped children, rss_bytes)."""
    rows = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces and parens: split after the last ')'
        fields = raw[raw.rindex(b")") + 2:].split()
        ppid = int(fields[1])
        ticks = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
        rows[int(name)] = (ppid, ticks, int(fields[21]) * _PAGE)
    return rows


def tree_pids(rows) -> set[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in rows.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = set(), [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in out:
            continue
        out.add(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_reading() -> tuple[float, int]:
    """(cpu_seconds, rss_bytes) summed over this process tree."""
    rows = _stat_rows()
    pids = tree_pids(rows)
    ticks = sum(rows[p][1] for p in pids if p in rows)
    rss = sum(rows[p][2] for p in pids if p in rows)
    return ticks / _TICK, rss


def descendants() -> set[int]:
    return tree_pids(_stat_rows()) - {os.getpid()}


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` is the
    highest sample seen while sampling, over every start/stop pair."""

    INTERVAL_S = 0.05

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_reading()[1])
            self._stop.wait(self.INTERVAL_S)

    def start(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
