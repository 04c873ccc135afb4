"""Pure helpers of the catalog benchmark: query order, percentiles,
span self time and the output check. No I/O, so the self-tests in
test_metrics.py run without Spark."""
import math
import random
import statistics

TAIL_BEYOND = 10  # samples a reported tail percentile must have above it


def permute(names, seed):
    """The workload's queries in the order the seed picks: the same seed
    always gives the same order, whatever order `names` came in."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """Highest whole percentile with at least TAIL_BEYOND of n samples
    strictly beyond it, or None when n is too small for any."""
    if n <= TAIL_BEYOND:
        return None
    return math.floor(100.0 * (n - TAIL_BEYOND) / n)


def tail(values):
    """(percentile, value) of the highest percentile with enough samples
    beyond it; falls back to the median for small samples."""
    p = tail_percentile(len(values))
    if p is None:
        p = 50
    return p, percentile(values, p)


def self_times(spans):
    """{span id: self time in ms}: a span's duration minus the part of its
    interval covered by its children (overlapping children count once,
    and a child's time outside its parent is not subtracted)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                     for c in children.get(s["id"], ()))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans):
    """{span name: summed self time in s}."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e3
    return out


def check_output(rec, ref):
    """None when the query's output matches its reference, else why not.
    A reference with check == "rows" compares the row count only."""
    if ref is None:
        return "no reference"
    if ref["check"] == "rows":
        return None if rec["rows"] == ref["rows"] else \
            f"rows {rec['rows']} != {ref['rows']}"
    return None if rec["digest"] == ref["digest"] else \
        f"digest {rec['digest']} != {ref['digest']}"


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
