"""Statistics the benchmark reports, kept free of I/O so they can be tested."""
import math
import statistics

# Percentiles considered for a tail latency, highest first.
TAIL_CANDIDATES = (99.9, 99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Linear-interpolated percentile `p` (0-100) of a non-empty sample."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n, beyond=10):
    """Highest candidate percentile with at least `beyond` of `n` samples above it, or None."""
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 9) >= beyond:
            return p
    return None


def geomean(xs):
    """Geometric mean of positive values; every value counts equally."""
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def spread(values):
    """Interquartile distance as a share of the median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


# Convert pipeline prefixes in growing order; each includes the previous one.
PREFIXES = ("inflate", "scan", "rows", "dsv2")


def self_times(prefix):
    """Self time of each conversion layer from the wall times of successive
    pipeline prefixes (inflate -> scan -> rows -> DSv2 -> full convert).

    `prefix` maps inflate/scan/rows/dsv2/full/readback to seconds; the full
    convert ends with the read-back, which is timed on its own and removed
    from the write's share.
    """
    out = {"excel.inflate_s": prefix["inflate"]}
    for prev, cur in zip(PREFIXES, PREFIXES[1:]):
        out[f"excel.{cur}_s"] = prefix[cur] - prefix[prev]
    out["convert.write_s"] = prefix["full"] - prefix["dsv2"] - prefix["readback"]
    out["convert.readback_s"] = prefix["readback"]
    return out


def fingerprint_mismatches(records):
    """Ids of ops whose output fingerprint differs from the first op of the same name."""
    first, bad = {}, []
    for r in records:
        fp = r.get("fp")
        if fp is None:
            continue
        ref = first.setdefault(r["name"], fp)
        if fp != ref:
            bad.append(r["id"])
    return bad


def per_pass(records):
    """Groups records by pass number, in pass order."""
    passes = {}
    for r in records:
        passes.setdefault(r["pass"], []).append(r)
    return [passes[k] for k in sorted(passes)]
