"""Percentile rules for the reported latencies."""

from __future__ import annotations

import math
from collections import Counter


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified
    Lentz), as in Numerical Recipes' ``betacf``."""
    tiny = 1e-300

    def nz(v: float) -> float:
        return v if abs(v) > tiny else tiny

    c, d = 1.0, 1.0 / nz(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 300):
        num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        d = 1.0 / nz(1.0 + num * d)
        c = nz(1.0 + num / c)
        h *= d * c
        num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 / nz(1.0 + num * d)
        c = nz(1.0 + num / c)
        h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def beta_cdf(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta ``I_x(a, b)``, ``a, b > 0``."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    log_front = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                 + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(log_front) * _beta_cf(a, b, x) / a
    return 1.0 - math.exp(log_front) * _beta_cf(b, a, 1.0 - x) / b


def quantile(xs: list[float], q: float,
             weights: list[float] | None = None) -> float:
    """Weighted Harrell-Davis quantile, ``0 <= q <= 1``.

    The estimate is a weighted mean of all sorted samples: sample ``i``
    covers its share ``[t_{i-1}, t_i]`` of the total weight and gets the
    mass a Beta(q (n + 1), (1 - q) (n + 1)) distribution puts there, with
    ``n`` the effective sample size (Kish). With few samples this is far
    steadier than interpolating between the two samples next to ``q``."""
    ws = weights or [1.0] * len(xs)
    pairs = sorted(zip(xs, ws))
    if q <= 0.0:
        return pairs[0][0]
    if q >= 1.0:
        return pairs[-1][0]
    total = sum(ws)
    n = total * total / sum(w * w for w in ws)
    a, b = q * (n + 1.0), (1.0 - q) * (n + 1.0)
    out, cum, prev = 0.0, 0.0, 0.0
    for x, w in pairs:
        cum += w
        cur = beta_cdf(a, b, min(cum / total, 1.0))
        out += (cur - prev) * x
        prev = cur
    return out


def mix_weights(strata: list[str]) -> list[float]:
    """Weights that give every stratum (request kind) the same total, so
    a run's latencies describe the workload's uniform mix however many
    requests of each kind fitted in the run."""
    n = Counter(strata)
    return [1.0 / n[s] for s in strata]
