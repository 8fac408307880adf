"""Peak resident memory of this process and the Python and Java
processes under it (the Spark JVM, the Python worker daemon and its
workers), sampled at a fixed interval by one daemon thread.

Short-lived helpers the JVM spawns (``chmod``, ``readlink`` and the
``jspawnhelper``/vfork child that starts them) are left out: until they
exec, /proc reports the JVM's own resident pages for them, and one such
sample would count the JVM twice."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return kids


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def counted(comm: str, parent_comm: str | None) -> bool:
    """Whether a process of the tree counts: Python and Java processes,
    but not a ``java`` child of ``java`` (a spawn that has not exec'd)."""
    if comm == "java":
        return parent_comm != "java"
    return comm.startswith("python")


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and its counted descendants."""
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent_comm = todo.pop()
        try:
            comm = _comm(pid)
            if not counted(comm, parent_comm):
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        todo.extend((kid, comm) for kid in _children(pid))
    return total


class PeakRss:
    """``with PeakRss() as p: ...`` then ``p.peak_mb``."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
