"""CPU seconds and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process (the Spark driver), the JVM it
launches and the JVM's Python workers, less the benchmark's host-speed
workers (``exclude``). CPU is ``utime + stime`` plus the
reaped-children ``cutime + cstime`` of every live process, so a worker that
exits mid-run still counts once its parent reaps it. Memory is the sum of
each live process's peak RSS (``VmHWM``) since a reset, so no sampling
thread runs beside the measured work.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parens: split after the last ')'
    return s[s.rindex(")") + 2 :].split()


def tree_pids(root: int, exclude: frozenset[str] = frozenset()) -> list[str]:
    """``root`` and every live descendant, less the subtrees of ``exclude``."""
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:
                children.setdefault(f[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, exclude: frozenset[str] = frozenset()) -> float:
    total = 0
    for pid in tree_pids(root, exclude):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def reset_peak_rss(root: int, exclude: frozenset[str] = frozenset()) -> None:
    """Reset the resident-set high-water mark of every process in the tree."""
    for pid in tree_pids(root, exclude):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:  # the process ended between listing and writing
            pass


def tree_peak_rss_mb(root: int, exclude: frozenset[str] = frozenset()) -> float:
    """Summed ``VmHWM`` (peak RSS since the last reset) of the tree."""
    total_kb = 0
    for pid in tree_pids(root, exclude):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024
