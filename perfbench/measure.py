"""Small measurement helpers: percentiles, process memory, bytes on disk."""

from __future__ import annotations

import math
import os
from typing import List, Sequence, Tuple


def tail(values: Sequence[float], target: float = 0.99) -> Tuple[float, float]:
    """(value, percentile) at ``target``, or at the highest percentile
    that still leaves at least ten samples above it when there are too
    few samples for ``target`` (nearest-rank)."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    n = len(xs)
    rank = min(math.ceil(target * n), n - 10)
    rank = max(rank, math.ceil(n / 2))  # never below the median
    return float(xs[rank - 1]), rank / n


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def child_pids(pid: int) -> List[int]:
    """Every live descendant of ``pid`` (walks /proc)."""
    parent_of = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        parent_of[int(name)] = ppid
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def dir_bytes(paths: Sequence[str]) -> int:
    """Bytes of every data file under ``paths``; the local filesystem's
    ``.crc`` checksum side files are not counted."""
    total = 0
    for root in paths:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if not f.endswith(".crc"):
                    total += os.path.getsize(os.path.join(dirpath, f))
    return total
