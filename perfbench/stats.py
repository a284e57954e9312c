"""Arithmetic behind the reported numbers, kept free of Spark so the
unit tests can pin it."""

from __future__ import annotations

import statistics
from bisect import bisect_left
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10


def tail(samples: Sequence[float], beyond: int = TAIL_BEYOND) -> dict:
    """The highest percentile that still has at least ``beyond`` samples
    above it: the (beyond+1)-th largest sample.

    Returns ``{"value", "percentile", "samples"}``. The percentile is the
    nearest-rank percentile of that sample, ``100 * (n - beyond) / n``.
    With ``beyond`` or fewer samples no such percentile exists and the
    value is None."""
    n = len(samples)
    if n <= beyond:
        return {"value": None, "percentile": None, "samples": n}
    ordered = sorted(samples)
    return {
        "value": ordered[n - 1 - beyond],
        "percentile": 100.0 * (n - beyond) / n,
        "samples": n,
    }


def fail_count(calls: Iterable[dict], bad_queries: set[str]) -> int:
    """Timed calls that failed: the call raised, or its query's output
    check failed (a wrong result fails every timed call of that query)."""
    return sum(
        1 for c in calls if c.get("error") or c["query"] in bad_queries
    )


def spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def attribute(
    records: Iterable[tuple[int, dict]], cuts: Sequence[tuple[int, str]]
) -> dict[str, dict]:
    """Charge id-keyed records (stages, jobs, SQL executions) to segments.

    ``cuts`` lists ``(last_id, label)`` in time order: ``last_id`` is the
    highest id the scheduler had handed out when the segment ended, so a
    record belongs to the first segment whose ``last_id`` covers its id.
    Ids are assigned synchronously and grow monotonically, so a record
    that reaches the status store late (after the next segment started)
    is still charged to the segment that created it. Records newer than
    the last cut are left out; they belong to a segment not yet closed.
    """
    ends = [c[0] for c in cuts]
    out: dict[str, dict] = {label: {} for _, label in cuts}
    for rid, values in records:
        i = bisect_left(ends, rid)
        if i == len(ends):
            continue
        acc = out[cuts[i][1]]
        for k, v in values.items():
            acc[k] = acc.get(k, 0) + v
    return out


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Per span name: total duration minus the time its direct children
    cover (children of one span never overlap in a closed loop)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
