"""Pure helpers of the benchmark: percentiles, frame-to-trigger mapping,
backlog slope.  No I/O, so the tests can pin them."""

import bisect
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """Highest ladder percentile with at least MIN_BEYOND of n samples above
    it, or None when even the lowest rung has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p
    return None


def tail(values):
    """(percentile used, value): the ladder's highest supported rung, or the
    maximum when the sample is too small for any rung."""
    p = tail_percentile(len(values))
    if p is None:
        return 100.0, float(max(values))
    return p, percentile(values, p)


def triggers_from_progress(progress):
    """[(start_offset, end_offset, commit_time_s)] sorted by start, from
    StreamingQueryProgress records carrying the `sse` source's frame
    offsets; triggers that consumed nothing are dropped."""
    out = []
    for p in progress:
        start, end = p["start_offset"], p["end_offset"]
        if end > start:
            out.append((start, end, p["end_time"]))
    out.sort()
    return out


def commit_times(frames, triggers):
    """Commit time of each frame offset, via the trigger whose
    [start, end) offset range holds it; None if no trigger committed it."""
    starts = [t[0] for t in triggers]
    out = []
    for f in frames:
        i = bisect.bisect_right(starts, f) - 1
        if i >= 0 and triggers[i][0] <= f < triggers[i][1]:
            out.append(triggers[i][2])
        else:
            out.append(None)
    return out


def slope(xs, ys):
    """Least-squares slope of ys over xs (0 for fewer than two points)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    if den == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den
