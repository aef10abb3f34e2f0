"""Order statistics used by every metric: percentiles with linear
interpolation between closest ranks, quartiles as the steadiness proof
uses them, and the geometric mean."""
import math
import statistics


def percentile(values, q):
    """The q-th percentile (0..100) of `values`, interpolating linearly
    between the two closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def quartiles(values):
    """First quartile, median, third quartile, exactly as
    `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    return tuple(statistics.quantiles(values, n=4))


def geomean(values):
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
