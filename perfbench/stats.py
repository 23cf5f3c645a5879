"""Pure helpers of the benchmark harness: percentiles with their sample
count, the tail rule, digests, metric-name checks and peak memory read from
``/proc``. Nothing here imports Spark, so the tests run without a
session."""

from __future__ import annotations

import hashlib
import math
import os
import re

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# percentiles the tail rule may pick, highest first
TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile of ``values`` and the sample count.
    Raises on an empty sample: a timing without samples is a bug upstream,
    never a zero."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = min(len(xs), max(1, math.ceil(q / 100.0 * len(xs))))
    return float(xs[k - 1]), len(xs)


def n_beyond(n: int, q: float) -> int:
    """Samples ranked strictly above the nearest-rank ``q``-th percentile of
    ``n`` samples."""
    return n - min(n, max(1, math.ceil(q / 100.0 * n)))


def tail_percentile(n: int, min_beyond: int = 10,
                    grid=TAIL_GRID) -> float | None:
    """The highest percentile in ``grid`` that leaves at least
    ``min_beyond`` of ``n`` samples beyond it, or None when even the median
    does not."""
    for q in grid:
        if n_beyond(n, q) >= min_beyond:
            return q
    return None


def digest(items) -> str:
    """sha256 over a sequence of str/bytes items, length-prefixed so that
    item boundaries count."""
    h = hashlib.sha256()
    for it in items:
        b = it if isinstance(it, bytes) else str(it).encode("utf-8")
        h.update(len(b).to_bytes(8, "little"))
        h.update(b)
    return h.hexdigest()


def bad_names(names) -> list[str]:
    """Names that do not match the metric-name pattern."""
    return [n for n in names if not NAME_RE.fullmatch(n)]


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name is parenthesized and may hold spaces: split after it
    return int(stat.rsplit(")", 1)[1].split()[1])


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children, grandchildren, ...)."""
    parent = {}
    for e in os.listdir("/proc"):
        if e.isdigit():
            pp = _ppid(int(e))
            if pp is not None:
                parent[int(e)] = pp
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (``VmHWM``) of one process in KiB; 0 when the
    process is gone or exposes none (kernel threads)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def peak_rss_mb(root_pid: int) -> tuple[float, dict[str, float]]:
    """Sum of per-process peak RSS over ``root_pid`` and its descendants
    (driver Python, the JVM it launched, the JVM's Python workers), in MB,
    and the same sum per command name. A sum of peaks bounds the concurrent
    peak from above."""
    parts: dict[str, float] = {}
    for p in [root_pid, *descendants(root_pid)]:
        name = "driver" if p == root_pid else _comm(p)
        parts[name] = parts.get(name, 0.0) + vm_hwm_kb(p) / 1024.0
    return sum(parts.values()), parts
