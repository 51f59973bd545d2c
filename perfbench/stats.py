"""Arithmetic the metrics are made of: percentiles, interval unions and
per-layer self time over an op's span tree."""
import math


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default):
    q in [0, 100]; the median of [1, 2, 3, 4] is 2.5, its p90 is 3.7."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def weighted_percentile(samples, q):
    """q-th percentile (q in [0, 100]) of (value, weight) pairs: each value
    stands at the middle of its share of the total weight, and q falls
    between two of them by linear interpolation (below the first or above
    the last, it takes that value). With equal weights the median of
    [1, 2, 3, 4] is 2.5 and its p75 is 3.5."""
    xs = sorted(samples)
    total = sum(w for _, w in xs)
    if not xs or total <= 0:
        raise ValueError("percentile of no values")
    at, cum = [], 0.0
    for v, w in xs:
        at.append(((cum + w / 2) / total, v))
        cum += w
    p = q / 100.0
    if p <= at[0][0]:
        return at[0][1]
    for (p0, v0), (p1, v1) in zip(at, at[1:]):
        if p <= p1:
            return v0 + (v1 - v0) * (p - p0) / (p1 - p0) if p1 > p0 else v1
    return at[-1][1]


def mix_percentile(samples, weights, q):
    """q-th percentile of the latency of one op drawn from a pass of an op
    mix. `samples` maps each op name to the latencies measured for it,
    `weights` to its count in a pass; each sample of a name weighs the
    name's count divided by its sample count, so every measured latency
    counts and a name sampled more often than its share counts no more."""
    return weighted_percentile([(x, w / len(samples[n])) for n, w in weights.items()
                                for x in samples[n]], q)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by [start, end) intervals, clipped to [lo, hi)."""
    spans = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Span layers from the root down: an op holds Delta calls, which hold
# Catalyst phases, which may hold Spark jobs.
LAYER_RANK = {"op": 0, "delta": 1, "catalyst": 2, "exec": 3}


def self_times(op_span, children):
    """Self time per layer for one op.

    `op_span` is (start, end); `children` is a list of (layer, start, end)
    with layer in delta/catalyst/exec, clipped to the op. Each instant of
    the op goes to the deepest layer with a span open at that instant, so
    a span's self time is its length minus the time its deeper spans cover,
    overlapping siblings (concurrent jobs) count once, and the values sum to
    the op's wall time. Returns {layer: ms}, "op" being the op's own time
    outside every child span."""
    s0, e0 = op_span
    spans = [(LAYER_RANK[layer], max(s, s0), min(e, e0)) for layer, s, e in children
             if min(e, e0) > max(s, s0)]
    cuts = sorted({s0, e0} | {s for _, s, _ in spans} | {e for _, _, e in spans})
    layer_of = {r: layer for layer, r in LAYER_RANK.items()}
    out = {layer: 0.0 for layer in LAYER_RANK}
    for a, b in zip(cuts, cuts[1:]):
        deepest = max((r for r, s, e in spans if s <= a and b <= e), default=0)
        out[layer_of[deepest]] += b - a
    return out
