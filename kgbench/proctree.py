"""CPU time of a process tree, read from ``/proc``.

The Spark JVM is a child of the benchmark process, the pyspark daemon is a
child of the JVM, and Python workers are forked from the daemon, so the
descendants of the benchmark process are exactly the engine's processes.

CPU counts ``utime + stime`` of every live descendant plus its
``cutime + cstime``: a worker that has exited and been reaped is still
counted, through the process that reaped it, and a live process is counted
once, because its own time enters its parent's ``cutime`` only when it is
reaped.
"""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own + reaped children) of the descendants."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[0] is the state; utime, stime, cutime, cstime are 11..14
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; kill the ones left at the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _exists(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _exists(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


class Window:
    """Wall and CPU time of the tree over one ``with`` block."""

    def __init__(self, root: int) -> None:
        self._root = root
        self.wall_s = self.cpu_s = 0.0

    def __enter__(self) -> "Window":
        self._cpu0 = tree_cpu_s(self._root)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s(self._root) - self._cpu0
