"""Small statistics helpers shared by the runner and the compare tool."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def hd_quantile(values, q: float) -> float:
    """Harrell-Davis estimate of the q-quantile (0 < q < 1): the mean of
    the sorted values weighted by the mass a Beta(q(n+1), (1-q)(n+1))
    density puts on each one's rank interval. It draws on every value
    near the quantile, so it moves less from sample to sample than the
    one or two order statistics of an interpolated percentile."""
    values = sorted(values)
    n = len(values)
    if n < 2:
        return values[0] if values else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 64  # midpoint rule over each rank interval
    weights = []
    for i in range(n):
        xs = ((i + (k + 0.5) / steps) / n for k in range(steps))
        weights.append(
            sum(math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)) for x in xs)
        )
    # a value whose weight underflows to 0 does not count, even if infinite
    return sum(w * v for w, v in zip(weights, values) if w) / sum(weights)


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    values = list(values)
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
