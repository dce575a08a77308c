"""Pure helpers of the benchmark runner: seeded pass orders, the tail
percentile rule and job-interval unions.

Kept free of I/O so that test_metrics.py can check them in milliseconds.
"""
import math
import random
import statistics

# Percentiles the tail rule may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def pass_orders(ops, seed, n_passes):
    """`n_passes` permutations of `ops`, reproducible from `seed` alone.

    Pass i is a shuffle of the operation list with its own generator, so
    pass i has the same order whatever the number of passes asked for.
    """
    orders = []
    for i in range(n_passes):
        rng = random.Random(f"{seed}/{i}")
        order = list(ops)
        rng.shuffle(order)
        orders.append(order)
    return orders


def lead_arm(seed):
    """Which PairPlan arm leads the first kernel pair for this seed."""
    return "blocked" if random.Random(f"{seed}/lead").random() < 0.5 else "broadcast"


def nearest_rank(sorted_xs, pct):
    """The nearest-rank percentile of an ascending list (1-based rank
    ceil(pct/100 * n))."""
    n = len(sorted_xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_xs[rank - 1]


def beyond(n, pct):
    """How many of `n` samples lie beyond the nearest-rank percentile."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def tail_percentile(n, ladder=TAIL_LADDER, need=10):
    """The highest percentile of `ladder` with at least `need` samples
    beyond it, or None when even the lowest has fewer."""
    for pct in ladder:
        if beyond(n, pct) >= need:
            return pct
    return None


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
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


def clipped_union(intervals, windows):
    """Union length of `intervals` inside each window, summed over the
    windows. An interval counts in the window its start falls into and is
    clipped to that window. Returns (covered, unattributed) where
    `unattributed` is how many intervals started outside every window."""
    covered = 0
    unattributed = 0
    per_window = [[] for _ in windows]
    for s, e in intervals:
        for k, (w0, w1) in enumerate(windows):
            if w0 <= s <= w1:
                per_window[k].append((s, min(e, w1)))
                break
        else:
            unattributed += 1
    for ivs in per_window:
        covered += union_length(ivs)
    return covered, unattributed


def median(xs):
    return statistics.median(xs)

