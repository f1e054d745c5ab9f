"""Pure measurement arithmetic for the benchmark (tested by test_harness.py).

Percentiles and the tail-sample rule, span self time against the Spark
job intervals that start inside the span, and error-rate accounting.
"""
import bisect
import math
import statistics

MIN_TAIL = 10  # a pXX is reported only with this many samples beyond it


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, q):
    """Nearest-rank percentile, q in (0, 1]: the smallest sample with at
    least a q share of the samples at or below it."""
    if not xs:
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_count(n, q):
    """Samples strictly beyond the nearest-rank q-th percentile of n."""
    return n - math.ceil(q * n)


def tail_percentile(xs, q, min_tail=MIN_TAIL):
    """The q-th percentile, or None unless min_tail samples lie beyond it."""
    if tail_count(len(xs), q) < min_tail:
        return None
    return percentile(xs, q)


def covered_ms(start, end, intervals):
    """Length of [start, end] covered by the union of the intervals,
    each clipped to the span first (jobs may overlap each other and may
    cross either span edge)."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if min(b, end) > max(a, start))
    total, cur_a, cur_b = 0.0, None, None
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


def attribute(spans, job_starts):
    """Index of the span open when each job started, or None.

    spans are (start_ms, end_ms) in start order and never overlap (the
    driver loop is serial). Spark stamps a job with whole milliseconds, so
    a span counts as open from the floor of its start; where two spans
    share that millisecond the later-started one wins."""
    starts = [math.floor(s) for s, _ in spans]
    out = []
    for t in job_starts:
        i = bisect.bisect_right(starts, t) - 1
        out.append(i if i >= 0 and t <= spans[i][1] else None)
    return out


def span_split(spans, jobs):
    """Per span: (wall_ms, covered_ms, self_ms, jobs, tasks, run_ms, shuffle_bytes).

    jobs are (start_ms, end_ms, tasks, run_ms, shuffle_bytes); a job with
    no end (end < start) is taken to run to the end of its span."""
    owner = attribute(spans, [j[0] for j in jobs])
    mine = [[] for _ in spans]
    for j, o in zip(jobs, owner):
        if o is not None:
            mine[o].append(j)
    out = []
    for (s, e), js in zip(spans, mine):
        iv = [(a, b if b >= a else e) for a, b, *_ in js]
        cov = covered_ms(s, e, iv)
        out.append((e - s, cov, (e - s) - cov, len(js),
                    sum(j[2] for j in js), sum(j[3] for j in js),
                    sum(j[4] for j in js)))
    return out


def error_rate(attempted, failed):
    """Failed or wrong operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted
