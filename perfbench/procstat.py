"""CPU and RSS of a process tree, read from /proc.

The system under test is this Python process and everything it starts
(the Spark JVM, the Python worker daemon and its workers); the
broker's subtree is excluded by pid. CPU counts the whole tree; RSS
counts the root's descendants only, the driver JVM plus Python workers,
because the root also holds the benchmark's inputs and oracle.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 3 (state) on


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and its descendants, minus the subtrees of ``exclude``.

    A JVM starts helper programs (Hadoop's shell calls) through vfork; until
    the child execs, it shares the JVM's address space and /proc reports the
    JVM's whole RSS for it too. A JVM child still running the JVM's own
    executable is such a child and is left out, so the heap is not counted
    twice."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        kids = children.get(pid, ())
        exe = _exe(pid)
        if exe is not None and os.path.basename(exe) == "java":
            kids = [c for c in kids if _exe(c) != exe]
        todo.extend(kids)
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system CPU of the processes and of their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class TreeSampler:
    """Peak RSS of a process tree below its root over a measured phase."""

    def __init__(self, root: int, exclude: set[int], period_s: float = 0.2):
        self.root, self.exclude, self.period_s = root, exclude, period_s
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = tree(self.root, self.exclude)
        self.peak_rss_mb = max(self.peak_rss_mb, rss_mb(pids[1:]))

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self) -> "TreeSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
