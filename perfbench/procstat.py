"""CPU time and peak memory of the Spark JVM and its Python workers, read
from ``/proc`` (no psutil).

The process tree is the JVM plus every descendant (the PySpark daemon and
the Python workers it forks).  CPU of the tree = sum over live members of
utime + stime + cutime + cstime: a reaped child's time has moved into its
parent's c-fields, so nothing is lost or counted twice as workers come and
go between two samples.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat(5), here offset by the 2 fields cut above
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum of VmHWM (peak resident set) over the live tree, in MiB."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
