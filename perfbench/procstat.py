"""Process-tree resource accounting from ``/proc`` (no psutil).

The tree is this Python driver, the JVM it launches through py4j, the
PySpark worker daemon the JVM forks and the Python workers the daemon forks.
CPU time counts both live processes and reaped children (``cutime`` and
``cstime``), so a worker that exits inside the tree keeps its CPU seconds in
its parent's figure.

Resident memory leaves out a child that still runs its parent's executable,
unless that is Python. The JVM starts programs (Hadoop runs shell commands
for file permissions) with vfork or posix_spawn: until the child execs it
shares the JVM's address space, and counting it would add the JVM's whole
footprint a second time. Python workers forked from the worker daemon have
their own memory and are counted.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1 << 20)


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
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
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_mb(root: int | None = None) -> float:
    pids = tree_pids(root or os.getpid())
    exes = {pid: _exe(pid) for pid in pids}
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is None:
            continue
        exe = exes[pid]
        if (exe is not None and exe == exes.get(int(fields[1]))
                and not os.path.basename(exe).startswith("python")):
            continue  # spawned, not yet exec'd: the parent's pages again
        total += int(fields[21])  # rss in pages, field 24 of stat(5)
    return total * _PAGE_MB


class PeakRss:
    """Samples the tree's resident memory on a background thread while the
    ``with`` block runs; ``peak_mb`` is the largest sample."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
