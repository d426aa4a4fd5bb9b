"""CPU time and resident memory of process trees, read from ``/proc``.

A tree is a root pid and every live descendant. CPU time counts each
process's own time plus the time of children it has reaped, so work
done by short-lived children (pandas-UDF workers, ``psql``) stays
counted after they exit.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _snapshot() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        f = raw[raw.rfind(b")") + 2 :].split()
        out[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def _tree(snap: dict[int, tuple[int, int]], roots: list[int]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = [], [r for r in roots if r in snap]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(children.get(pid, ()))
    return seen


def cpu_seconds(roots: list[int]) -> float:
    snap = _snapshot()
    return sum(snap[p][1] for p in _tree(snap, roots)) / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:  # exited
        pass
    return 0


def rss_mb(roots: list[int]) -> float:
    """Resident memory of the trees, each shared page split among the
    processes sharing it (PSS), so a process that has just forked and
    not yet exec'd is not counted twice."""
    snap = _snapshot()
    return sum(_pss_kb(p) for p in _tree(snap, roots)) / 1024


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs:
    a measure of interference from outside the machine."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK
