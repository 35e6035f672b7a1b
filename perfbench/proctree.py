"""The process tree of a benchmark run (the worker, its JVM and the JVM's
Python workers), read from /proc."""

from __future__ import annotations

import os


def snapshot() -> dict[int, tuple[int, int, float]]:
    """{pid: (parent pid, start tick, CPU seconds)} of every visible process.
    CPU seconds are user + system time, including that of reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
                out[int(d)] = (int(f[1]), int(f[19]), sum(int(x) for x in f[11:15]) / tick)
            except (OSError, ValueError, IndexError):
                continue
    return out


def descendants(table: dict, root: int) -> set[int]:
    """``root`` and every process below it in ``table``."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo.extend(kids.get(p, []))
    return seen


def cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants."""
    table = snapshot()
    return sum(table[p][2] for p in descendants(table, root) if p in table)


def rss_bytes(table: dict, pids: set[int]) -> int:
    """Summed resident memory of ``pids``.  A child whose address space
    has its parent's exact size is a copy between fork or clone and exec
    (the JVM starts helper processes that way, sharing its memory); its
    pages are the parent's and are counted once."""
    statm = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                size, resident = fh.read().split()[:2]
            statm[p] = (size, int(resident))
        except (OSError, ValueError):
            continue
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(resident * page for p, (size, resident) in statm.items()
               if statm.get(table[p][0], (None,))[0] != size)
