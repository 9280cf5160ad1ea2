"""Metric arithmetic of the benchmark: percentiles, error rate, span self
time and the per-layer table. Pure functions over the JVM's records, so
tests can exercise them without a JVM."""
import statistics

#: percentiles considered for the tail, lowest first
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """Nearest-rank percentile (the smallest value with at least p% of the
    samples at or below it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(k) - 1]


def highest_percentile(n, ladder=LADDER, beyond=10):
    """The highest percentile of the ladder that has at least `beyond`
    samples above it in n samples, or None if even the median has not."""
    best = None
    for p in ladder:
        if n * (100.0 - p) / 100.0 >= beyond:
            best = p
    return best


def op_latencies(ops, timeout_s):
    """Latency samples with every failed op read as the timeout: a failure
    misses any latency limit, it never counts as a fast operation."""
    return [o["lat_s"] if o["status"] == "ok" else max(o["lat_s"], timeout_s) for o in ops]


def failures(ops, mismatched):
    """Ops that threw, timed out, or whose (name, scale) result did not
    match its reference."""
    return [o for o in ops if o["status"] != "ok" or (o["name"], o["scale"]) in mismatched]


def error_rate(ops, mismatched):
    return len(failures(ops, mismatched)) / len(ops) if ops else 1.0


def self_times(spans):
    """Seconds of self time per layer: a span's duration minus the part of
    it that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                    for c in kids.get(s["id"], []) if c["id"] != s["id"])
        covered, end = 0.0, lo
        for a, b in iv:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo - covered) / 1e3
    return out


def median_or(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def mean_or(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else default
