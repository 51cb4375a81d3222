"""Process-tree CPU and memory, and the machine's stolen CPU time, from
/proc (Linux only, stdlib only).

The CPU walk is the one ``bench.py`` uses (user+sys of every live
process in a tree plus what its reaped children used), split by
subtree so a number can name the layer that burned it:

- ``driver_py``: the Python process that drives Spark (this benchmark's
  worker), not counting its children;
- ``jvm``: the Spark JVM itself;
- ``pyworker``: everything under the JVM (``pyspark.daemon`` and the
  Python workers it forks);
- ``tritond``: the tritond daemon process;
- ``other``: any other descendant (not counted in ``total``).
"""

from __future__ import annotations

import glob
import os

_TCK = float(os.sysconf("SC_CLK_TCK"))
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _snapshot() -> dict[int, tuple[int, float, float, str]]:
    """pid -> (ppid, own cpu s, reaped-children cpu s, comm)."""
    out = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as fh:
                raw = fh.read()
            lp, rp = raw.index("("), raw.rindex(")")
            fields = raw[rp + 2:].split()
            out[int(raw[:lp])] = (
                int(fields[1]),
                (int(fields[11]) + int(fields[12])) / _TCK,
                (int(fields[13]) + int(fields[14])) / _TCK,
                raw[lp + 1:rp])
        except (OSError, ValueError, IndexError):
            continue    # the process exited mid-walk
    return out


def _children(snap) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in snap.items():
        kids.setdefault(ppid, []).append(pid)
    return kids


def _subtree(kids, root: int) -> list[int]:
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def cpu_split(root: int | None = None, tritond_pid: int | None = None,
              exclude: tuple[int, ...] = ()) -> dict[str, float]:
    """CPU seconds used so far by ``root``'s tree, split by subtree.

    ``exclude`` names pids whose subtrees are left out entirely (the load
    generator, which is not part of the system under test)."""
    root = os.getpid() if root is None else root
    snap = _snapshot()
    kids = _children(snap)
    split = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0, "tritond": 0.0,
             "other": 0.0}
    if root not in snap:
        return {**split, "total": 0.0}
    split["driver_py"] = snap[root][1] + snap[root][2]
    for child in kids.get(root, ()):
        if child in exclude:
            continue
        tree = _subtree(kids, child)
        cpu = sum(snap[p][1] + snap[p][2] for p in tree if p in snap)
        if child == tritond_pid:
            split["tritond"] += cpu
        elif snap[child][3] == "java":
            own = snap[child][1]
            split["jvm"] += own
            split["pyworker"] += cpu - own
        else:
            split["other"] += cpu
    split["total"] = (split["driver_py"] + split["jvm"] + split["pyworker"]
                      + split["tritond"])
    return split


def vm_ticks() -> tuple[int, int]:
    """Stolen and all CPU ticks of the whole machine so far.

    Steal is time the hypervisor ran something else while a virtual CPU
    of this machine had work; it shows in no process's CPU time."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    """Share of the machine's CPU time stolen since ``vm_ticks()`` gave
    ``since``."""
    steal, total = vm_ticks()
    return (steal - since[0]) / max(1, total - since[1])


def tree_rss_mb(root: int, skip_cmd: str | None = None) -> float:
    """Resident memory of ``root`` and its live descendants, in MB.

    Processes whose command line contains ``skip_cmd`` (and their
    subtrees) are not counted."""
    snap = _snapshot()
    kids = _children(snap)
    total = 0
    stack = [root]
    while stack:
        p = stack.pop()
        if skip_cmd is not None and p != root:
            try:
                with open(f"/proc/{p}/cmdline", "rb") as fh:
                    if skip_cmd.encode() in fh.read():
                        continue
            except OSError:
                continue
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            pass
        stack.extend(kids.get(p, ()))
    return total / 1e6
