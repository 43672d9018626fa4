"""Summary statistics and span arithmetic shared by the benchmark's report."""
import math

# Percentiles the tail rule may pick, highest last.
TAIL_GRID = (50.0, 90.0, 95.0, 99.0, 99.9, 99.99)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _rank(p, n):
    """1-based nearest rank of percentile `p` among `n` samples."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def tail_percentile(n):
    """Highest grid percentile with at least ten of `n` samples beyond it,
    or None when `n` is too small for even the median to qualify."""
    best = None
    for p in TAIL_GRID:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def percentile(xs, p):
    """Nearest-rank percentile; `inf` samples (failed operations) count as
    slower than any measured one."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[_rank(p, len(s)) - 1]


def self_times(spans):
    """Seconds of self time per layer: a span's duration minus the part of
    it that its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                           for c in kids.get(s["id"], [])):
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
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo - covered) / 1e9
    return out
