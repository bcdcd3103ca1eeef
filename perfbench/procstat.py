"""CPU time and resident memory of this process and all its descendants
(the JVM that spark-submit starts and the Python workers it forks), read
from /proc."""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages, name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        # fields after the ")" closing the command name, from field 3 on
        f = raw[raw.rindex(")") + 2:].split()
        out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]), int(f[21]),
                       raw[raw.index("(") + 1:raw.rindex(")")])
    return out


def _tree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    return [p for p in _tree(_proc_table(), root) if p != root]


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def tree_usage(root: int | None = None) -> tuple[float, float, float]:
    """(cpu seconds, resident MB, resident MB of Python processes) summed
    over ``root`` and its descendants. CPU includes children already
    reaped by a member of the tree, so a difference of two readings
    counts workers that exited between them. Resident memory counts a
    process the JVM has just forked (to run a shell command) as its own
    copy of the JVM, which only the whole-tree figure sees."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    pids = [p for p in _tree(table, root) if p in table]
    cpu = sum(table[p][1] for p in pids)
    rss = sum(table[p][2] for p in pids)
    py = sum(table[p][2] for p in pids if table[p][3].startswith("python"))
    return cpu / _TICK, rss * _PAGE / 1e6, py * _PAGE / 1e6


class TreeMeter:
    """Sums CPU seconds over ops and keeps the peak resident memory seen
    while an op runs, sampling every ``interval`` seconds from a thread:
    of the whole tree and of its Python processes (this driver and the
    Python workers)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_mb = 0.0
        self.peak_py_mb = 0.0
        self._active = False
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._sample, daemon=True,
                                        name="tree-meter")

    def _observe(self) -> float:
        cpu, rss, py = tree_usage()
        with self._lock:
            if self._active:
                self.peak_mb = max(self.peak_mb, rss)
                self.peak_py_mb = max(self.peak_py_mb, py)
        return cpu

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            self._observe()

    def __enter__(self) -> "TreeMeter":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @contextmanager
    def op(self):
        """Count the CPU the tree spends inside the block and sample its
        memory while the block runs."""
        with self._lock:
            self._active = True
        cpu0 = self._observe()
        try:
            yield
        finally:
            cpu1 = self._observe()
            with self._lock:
                self._active = False
                self.cpu_s += cpu1 - cpu0
