"""The benchmark's own arithmetic: percentiles, freshness, backlog,
failure fraction and span self time.

Pure Python with no Spark import, so ``perfbench/tests`` checks it
without a JVM.
"""

from __future__ import annotations

import math
from bisect import bisect_left
from collections import defaultdict

#: Percentiles the tail rule may report, highest first.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
#: A percentile is reported only with this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of ``n``."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail(values, ladder=TAIL_LADDER, min_beyond: int = MIN_BEYOND):
    """``(q, value, n)`` for the highest percentile in ``ladder`` that
    has at least ``min_beyond`` samples beyond it, or ``None`` when even
    the lowest rung has fewer."""
    n = len(values)
    for q in ladder:
        if n and beyond(n, q) >= min_beyond:
            return q, percentile(values, q), n
    return None


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def mix_mean(samples) -> float:
    """Mean over operation kinds of each kind's mean latency, for a
    fixed mix of ``(kind, value)`` samples whose kinds differ in cost.
    Unlike the median of the pooled samples, it does not jump between
    kinds when a run completes one operation more or less."""
    by: dict = defaultdict(list)
    for kind, v in samples:
        by[kind].append(v)
    if not by:
        raise ValueError("mean of no samples")
    return sum(sum(v) / len(v) for v in by.values()) / len(by)


def quartile_spread(values) -> float:
    """Inter-quartile distance as a share of the median, the way the
    acceptance rule computes it (``statistics.quantiles(n=4)``)."""
    import statistics

    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def visible_at(polls, batch_id: int, not_before: float = float("-inf")):
    """Time of the first poll at or after ``not_before`` whose rst is at
    least ``batch_id``, or ``None`` if no poll showed it."""
    times = [p[0] for p in polls]
    i = bisect_left(times, not_before)
    for t, rst, *_ in polls[i:]:
        if rst >= batch_id:
            return t
    return None


def freshness(due: dict[str, float], file_batch: dict[str, int], polls):
    """Per-file freshness in ms: from the time the file was due (an
    open-loop generator's schedule) to the first ``/rst`` poll showing
    the batch that holds it. Returns ``(samples, missing)`` where
    ``missing`` lists files no batch took or no poll showed."""
    samples: dict[str, float] = {}
    missing: list[str] = []
    for name, t_due in due.items():
        b = file_batch.get(name)
        t_seen = None if b is None else visible_at(polls, b, t_due)
        if t_seen is None:
            missing.append(name)
        else:
            samples[name] = (t_seen - t_due) * 1000.0
    return samples, sorted(missing)


def backlog_max(arrived: dict[str, float], file_batch: dict[str, int], polls) -> int:
    """Largest number of files that had arrived but whose batch no poll
    yet showed, sampled at every arrival and every poll."""
    done_at = {}
    for name in arrived:
        b = file_batch.get(name)
        done_at[name] = None if b is None else visible_at(polls, b, arrived[name])
    events = sorted({*arrived.values(), *(p[0] for p in polls)})
    peak = 0
    for t in events:
        n = sum(
            1
            for name, ta in arrived.items()
            if ta <= t and (done_at[name] is None or done_at[name] > t)
        )
        peak = max(peak, n)
    return peak


def failed_frac(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("no operation attempted")
    return failed / attempted


def count_mismatches(expected: dict, got: dict) -> list:
    """Keys whose count differs between two ``{key: count}`` maps (a
    key missing on one side counts as 0 there)."""
    return sorted(
        (k for k in set(expected) | set(got) if expected.get(k, 0) != got.get(k, 0)),
        key=repr,
    )


def _covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it that
    its child spans cover (children clipped to the parent's interval,
    overlapping children counted once). ``spans`` are dicts with ``id``,
    ``parent``, ``start`` and ``end``."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], ())
        ]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(kids)
    return out


def layer_table(spans) -> dict[str, dict]:
    """Per span name: calls, total and self seconds, and the median span
    duration in ms."""
    selfs = self_times(spans)
    acc: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0, "_d": []})
    for s in spans:
        a = acc[s["name"]]
        a["calls"] += 1
        a["total_s"] += s["end"] - s["start"]
        a["self_s"] += selfs[s["id"]]
        a["_d"].append((s["end"] - s["start"]) * 1000.0)
    return {
        name: {
            "calls": a["calls"],
            "total_s": a["total_s"],
            "self_s": a["self_s"],
            "p50_ms": median(a["_d"]),
        }
        for name, a in acc.items()
    }
