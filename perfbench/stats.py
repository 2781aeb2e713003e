"""Statistics of the benchmark: percentiles and span self time."""
import math


def percentile(values, q, beyond=10):
    """Nearest-rank q-quantile (0 < q < 1) of `values` as (value, n).

    The value is None unless at least `beyond` samples lie above the
    rank: a p90 needs n >= 100, a p50 needs n >= 20."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n == 0 or n - rank < beyond:
        return None, n
    return sorted(values)[rank - 1], n


def self_times(spans):
    """Self time of each span in seconds: its duration minus the
    durations of its children. `spans`: dicts with id, parent (-1 for a
    root), start_ns and end_ns. Returns {span id: seconds}."""
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    out = dict(dur)
    for s in spans:
        if s["parent"] >= 0:
            out[s["parent"]] -= dur[s["id"]]
    return out
