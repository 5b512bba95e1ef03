"""Peak resident memory of a process tree, sampled from /proc.

The driver process, the JVM it launched and the JVM's Python workers form
one tree; a background thread sums the memory of every process in it at a
fixed interval and keeps the largest sum seen. A process counts its
resident set size (RSS), except a forked copy of its parent (a Python
worker forked by the PySpark daemon, same command line as the daemon),
which counts only its private resident pages: the pages it still shares
with the daemon are already in the daemon's RSS. Plain RSS summed over
every process would count those pages once per worker; proportional set
size would split them with any process outside the tree that maps the same
files, so the figure would move with what else runs on the machine.
"""

from __future__ import annotations

import os
import threading


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, ppid) of a process, None once it has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            # state and ppid follow the parenthesised command name
            state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
    except OSError:
        return None
    return state, int(ppid)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            kids.setdefault(st[1], []).append(int(d))
    return kids


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _resident_kb(pid: int, private_only: bool) -> int:
    fields = (("Private_Clean:", "Private_Dirty:") if private_only
              else ("Rss:",))
    total = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith(fields):
                    total += int(line.split()[1])
    except OSError:                     # the process ended meanwhile
        pass
    return total


def alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_resident_bytes(root: int) -> int:
    kids = _children()
    total, todo = 0, [(root, b"")]
    while todo:
        pid, parent_cmd = todo.pop()
        cmd = _cmdline(pid)
        total += _resident_kb(pid, private_only=bool(cmd)
                              and cmd == parent_cmd)
        todo.extend((k, cmd) for k in kids.get(pid, ()))
    return total * 1024


class PeakRss:
    """Context manager sampling the tree under ``root`` every ``interval``
    seconds; ``peak_mb`` holds the largest summed resident size afterwards."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb,
                               tree_resident_bytes(self.root) / 2**20)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
