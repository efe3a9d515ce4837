"""The benchmark's own arithmetic: percentiles, idle time, span self
time, result digests and the box-state verdict. Pure functions, tested
by `perfbench/tests/test_stats.py`."""
import hashlib
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(xs, beyond=10, cap=99.0):
    """The highest percentile (at most `cap`) that has at least `beyond`
    samples above it, as (percentile, value); None if the sample is too
    small. With n samples the value is the (n - beyond)-th smallest, so
    exactly `beyond` samples lie beyond it by rank."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based rank of the reported sample
    capped = math.ceil(cap / 100.0 * n)
    if capped < rank:
        rank = capped
    return 100.0 * rank / n, s[rank - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def idle_time(start, end, busy):
    """Time in [start, end] during which no `busy` interval is running:
    the window's length minus the union of the busy intervals in it."""
    return (end - start) - union_length(clip(busy, start, end))


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover. `spans` are dicts with `id`,
    `parent`, `start_us` and `end_us`; returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: idle_time(s["start_us"], s["end_us"], children.get(s["id"], []))
            for s in spans}


def frame_digest(df):
    """Order-insensitive digest of a result table: columns sorted by
    name, rows sorted, values as text; equal for any row or column
    permutation of the same table."""
    cols = sorted(df.columns)
    rows = sorted(df[cols].astype(str).itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update(("\x1f".join(cols) + "\n").encode())
    for row in rows:
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()


def stage_skew(durations_by_stage):
    """Summed over stages: slowest task minus the stage's median task."""
    return sum(max(d) - median(d) for d in durations_by_stage.values() if d)


def box_state(stretches):
    """Host verdict from the wall/CPU stretch probes: CLEAN when every
    probe is within 5 %, BLIPS when only isolated probes are high, else
    THROTTLED. Recorded beside each run, never used to drop one."""
    s = [x for x in stretches if x > 0]
    if not s:
        return "UNKNOWN"
    if max(s) <= 1.05:
        return "CLEAN"
    if sum(s) / len(s) <= 1.05 and sum(x > 1.10 for x in s) / len(s) < 0.05:
        return "BLIPS"
    return "THROTTLED"
