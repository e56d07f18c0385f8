"""Arithmetic of the benchmark's metrics, kept apart so its tests can pin it."""
import math

# Percentiles the benchmark may report, lowest first.
LADDER = (50.0, 90.0, 99.0, 99.9)


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p):
    """Nearest-rank percentile; +inf entries (missed records) sort last."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def median(values):
    return percentile(values, 50.0)


def supported_percentile(n, ladder=LADDER):
    """The highest percentile on the ladder with at least ten samples
    beyond it, or None when not even the median has."""
    best = None
    for p in ladder:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def require_percentile(values, p):
    """`p` of `values`, refusing a percentile the sample count does not
    support."""
    top = supported_percentile(len(values))
    if top is None or top < p:
        raise ValueError(
            f"p{p:g} needs ten samples beyond it; {len(values)} samples "
            f"support at most p{top}")
    return percentile(values, p)


def slice_percentiles(samples, start, end, windows, p):
    """The p-th percentile of the (time, value) samples in each of
    `windows` equal slices of [start, end). Every slice must support p by
    itself."""
    width = (end - start) / windows
    per = []
    for w in range(windows):
        lo, hi = start + w * width, start + (w + 1) * width
        per.append(require_percentile([v for t, v in samples if lo <= t < hi], p))
    return per


def windowed_percentile(samples, start, end, windows, p):
    """Median over equal slices of [start, end) of each slice's p-th
    percentile. One slow micro-batch then moves one slice, not the
    reported value."""
    return median(slice_percentiles(samples, start, end, windows, p))


def mean(values):
    if not values:
        raise ValueError("mean of no samples")
    return sum(values) / len(values)


def expand(counted):
    """Values from (value, count) pairs, each value repeated count times."""
    return [v for v, n in counted for _ in range(int(n))]


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle_ms(window_start, window_end, job_intervals):
    """Driver idle time in a window: its length minus the part that
    running jobs cover."""
    return (window_end - window_start) - union_ms(
        job_intervals, window_start, window_end)


def read_amplification(sum_num_input_rows, generated_records):
    """Source rows the engine reports per record the generator produced.
    `numInputRows` counts every scan of a batch, so it is never a record
    count; the record count comes from the generator."""
    if generated_records <= 0:
        raise ValueError("no generated records")
    return sum_num_input_rows / generated_records


def backlog_grows(samples, start, end, rate):
    """True when the backlog over the last quarter of [start, end] is,
    on average, more than one second of input above that of the second
    quarter (the first is the ramp from an empty queue). `samples` are
    (time_ms, records) pairs."""
    q = (end - start) / 4.0
    first = [b for t, b in samples if start + q <= t < start + 2 * q]
    last = [b for t, b in samples if end - q <= t <= end]
    if not first or not last:
        return False
    return sum(last) / len(last) - sum(first) / len(first) > rate
