"""Metric arithmetic shared by the benchmark runs and its tests.

Everything here is pure Python over plain numbers, so it can be tested
without a JVM: percentiles, the failure share, span self time and the
resident-memory reading from ``/proc``.
"""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of ``values``."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("percentile of an empty sequence")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile out of range: {q}")
    rank = (len(ordered) - 1) * q / 100.0
    lo = math.floor(rank)
    hi = math.ceil(rank)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (rank - lo)


def summarize(values) -> dict:
    """Median, quartiles and count of per-job samples, as printed."""
    values = list(values)
    if not values:
        raise ValueError("summary of an empty sequence")
    if len(values) == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def failed_share(attempted: int, missing: int, internal_errors: int, raised: int) -> float:
    """Share of attempted pages that failed.

    A page fails when it has no output row, when its row's ``error`` starts
    with ``internal:`` or when the job that should have handled it raised.
    ``invalid-html:`` rows are correct outcomes and are not counted here.
    """
    if attempted <= 0:
        raise ValueError("no pages attempted")
    failed = missing + internal_errors + raised
    if failed < 0 or failed > attempted:
        raise ValueError(f"{failed} failed pages out of {attempted} attempted")
    return failed / attempted


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that the
    union of its direct children covers."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(children.get(s.span_id, ()), s.start, s.end)
        for s in spans
    }


def self_time_within(span: Span, spans, lo: float, hi: float) -> float:
    """Self time of ``span`` restricted to the window ``[lo, hi]``."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.span_id]
    lo, hi = max(lo, span.start), min(hi, span.end)
    if hi <= lo:
        return 0.0
    return (hi - lo) - covered(kids, lo, hi)


def _ppid(stat: str) -> int:
    # Field 2 (comm) may hold spaces and parentheses; fields after the last
    # ')' are fixed: state, ppid, ...
    return int(stat[stat.rindex(")") + 2:].split()[1])


def descendants(pid: int, proc: str = "/proc") -> list[int]:
    """Every live descendant of ``pid``."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            with open(os.path.join(proc, entry, "stat")) as fh:
                parent_of[int(entry)] = _ppid(fh.read())
        except (OSError, ValueError):
            continue  # the process ended while we listed it
    out, frontier = [], [pid]
    while frontier:
        nxt = [c for c, p in parent_of.items() if p in frontier]
        out.extend(nxt)
        frontier = nxt
    return out


def cpu_seconds(pid: int | None = None, proc: str = "/proc") -> float:
    """User + system CPU seconds used so far by the live descendants of
    ``pid`` (this process by default) and the children they reaped. CPU
    time excludes time the hypervisor steals from the guest, unlike wall
    time."""
    ticks = 0
    for child in descendants(pid if pid is not None else os.getpid(), proc):
        try:
            with open(os.path.join(proc, str(child), "stat")) as fh:
                stat = fh.read()
        except OSError:
            continue  # ended since it was listed
        fields = stat[stat.rindex(")") + 2:].split()
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_kib(pid: int, proc: str = "/proc") -> int | None:
    """``VmHWM`` (peak resident set) of one process in KiB; None if gone."""
    try:
        with open(os.path.join(proc, str(pid), "status")) as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def peak_rss_mib_by_process(pid: int | None = None) -> dict[str, float]:
    """Sum of ``VmHWM`` in MiB over the descendants of ``pid`` (this process
    by default), keyed by process name: ``java`` is the JVM, ``python`` the
    PySpark daemon and its forked workers."""
    out: dict[str, float] = {}
    for child in descendants(pid if pid is not None else os.getpid()):
        kib = peak_rss_kib(child)
        try:
            with open(f"/proc/{child}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue  # ended since it was listed
        if kib:
            key = "python" if name.startswith("python") else name
            out[key] = out.get(key, 0.0) + kib / 1024.0
    return out
