"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process and every descendant: the
Spark JVM it launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> "list[str] | None":
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ")"
    return text[text.rindex(")") + 2:].split()


def tree(root: int) -> "dict[str, list[str]]":
    """``/proc/<pid>/stat`` fields (from ``state`` on) of ``root`` and all
    of its descendants."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                stats[pid] = fields
    children: dict[str, list[str]] = {}
    for pid, fields in stats.items():
        children.setdefault(fields[1], []).append(pid)
    out, todo = {}, [str(root)]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the live tree, including children it reaped."""
    ticks = 0
    for fields in tree(root).values():
        # utime, stime, cutime, cstime are fields 14-17 of stat
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


#: ``PF_FORKNOEXEC``: forked and not yet exec'd
_FORKNOEXEC = 0x40


def rss_bytes(root: int) -> int:
    """Summed RSS of the tree. A child the JVM forked to launch a command
    still shares the JVM's pages until it execs, so it is skipped."""
    procs = tree(root)
    comm = {}
    total = 0
    for pid, fields in procs.items():
        parent = fields[1]
        if int(fields[6]) & _FORKNOEXEC and parent in procs:
            if parent not in comm:
                comm[parent] = _comm(parent)
            if comm[parent] == "java":
                continue
        total += int(fields[21])
    return total * _PAGE


def _comm(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class PeakRss:
    """Samples the tree's summed RSS on a thread until :meth:`stop`."""

    def __init__(self, root: int, interval: float = 0.05):
        self.peak = 0
        self._root, self._interval = root, interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, rss_bytes(self._root))

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak
