"""Exact bounds estimators — formula-parity ports of the reference's
statistical bounds machinery (replacing round-1's Gaussian stand-ins).

  - binomial_bounds_lower/upper: thetacommon/BinomialBoundsN.java:234,257
    — frequentist binomial-tail bounds on N given (numSamples, theta),
    with continuity-corrected classic intervals for large counts, the
    EquivTables-adjusted classic intervals for tiny theta, exact
    Bayesian-style tail walks (specialNStar / specialNPrimeF) in the
    hard middle range, and closed forms for 0/1 samples.
  - erf / normal_cdf / approximate_{lower,upper}_bound_on_p:
    common/BoundsOnBinomialProportions.java:73-190 — approximate
    Clopper-Pearson binomial-proportion intervals via the
    Abramowitz & Stegun 26.5.22 inverse-incomplete-beta approximation
    and the A&S 7.1.28 polynomial erf (no scipy dependency, same ~7
    digit accuracy as the reference).
  - ratio_{lower,upper}_bound_b_over_a:
    common/BoundsOnRatiosInSampledSets.java:38,52 — bounds on |B|/|A|
    under Bernoulli sampling with inclusion probability f (the
    "hackyAdjuster" variance-widening included, numStdDev fixed at 2).
  - theta_ratio_bounds: thetacommon/BoundsOnRatiosInThetaSketchedSets
    — the sketched-set specialization (f = theta_frac, count A
    restricted below B's theta) used by the Jaccard CI.
  - hll_rel_err / hll_bounds: hll/RelativeErrorTables.java:36 +
    hll/HllEstimators.java:48-88 — table-driven relative errors for
    lgK <= 12, RSE-factor formula above, floor at numNonZeros.

All scalar math is float64 and mirrors the reference's operation order
so results agree bit-for-bit; parity is asserted against the golden
sweep sums in the reference's BinomialBoundsNTest (tests/test_bounds.py).
"""

from __future__ import annotations

import math

import numpy as np

from ._bounds_tables import (
    HLL_NON_HIP_LB,
    HLL_NON_HIP_UB,
    LB_EQUIV,
    UB_EQUIV,
)

# delta = 0.5(1 + erf(-numSDev/sqrt(2))) for numSDev 0..3
# (BinomialBoundsN.java deltaOfNumSDev)
_DELTA_OF_NUM_SDEV = (
    0.5000000000000000000,
    0.1586553191586026479,
    0.0227502618904135701,
    0.0013498126861731796,
)

_HLL_NON_HIP_RSE_FACTOR = math.sqrt(3.0 * math.log(2.0) - 1.0)  # 1.03896
_HLL_HIP_RSE_FACTOR = math.sqrt(math.log(2.0))                  # 0.8325546


# ---------------------------------------------------------------------------
# BinomialBoundsN (bounds on N for theta sketches / fixed-threshold sampling)
# ---------------------------------------------------------------------------

def _cont_classic_lb(num_samples: float, theta: float, num_sdev: float) -> float:
    n_hat = (num_samples - 0.5) / theta
    b = num_sdev * math.sqrt((1.0 - theta) / theta)
    d = 0.5 * b * math.sqrt(b * b + 4.0 * n_hat)
    return n_hat + 0.5 * (b * b) - d


def _cont_classic_ub(num_samples: float, theta: float, num_sdev: float) -> float:
    n_hat = (num_samples + 0.5) / theta
    b = num_sdev * math.sqrt((1.0 - theta) / theta)
    d = 0.5 * b * math.sqrt(b * b + 4.0 * n_hat)
    return n_hat + 0.5 * (b * b) + d


def _special_n_star(num_samples: int, p: float, delta: float) -> int:
    """Exact Bayesian-style tail walk for the LB in the hard middle
    range (BinomialBoundsN.specialNStar — valid only for est < 500)."""
    q = 1.0 - p
    cur = p ** num_samples
    tot = cur
    m = num_samples
    while tot <= delta:
        cur = (cur * q * m) / ((m + 1) - num_samples)
        tot += cur
        m += 1
    return m - 1


def _special_n_prime_b(num_samples: int, p: float, delta: float) -> int:
    q = 1.0 - p
    one_minus_delta = 1.0 - delta
    cur = p ** num_samples
    tot = cur
    m = num_samples
    while tot < one_minus_delta:
        cur = (cur * q * m) / ((m + 1) - num_samples)
        tot += cur
        m += 1
    return m


def _special_n_prime_f(num_samples: int, p: float, delta: float) -> int:
    return _special_n_prime_b(num_samples + 1, p, delta)


def _approx_bino_lb(num_samples: int, theta: float, num_sdev: int) -> float:
    if theta == 1.0:
        return float(num_samples)
    if num_samples == 0:
        return 0.0
    if num_samples == 1:
        delta = _DELTA_OF_NUM_SDEV[num_sdev]
        return math.floor(math.log(1.0 - delta) / math.log(1.0 - theta))
    if num_samples > 120:
        return _cont_classic_lb(num_samples, theta, num_sdev) - 0.5
    if theta > 1.0 - 1e-5:
        return float(num_samples)
    if theta < num_samples / 360.0:
        idx = 3 * num_samples + (num_sdev - 1)
        return _cont_classic_lb(num_samples, theta, LB_EQUIV[idx]) - 0.5
    delta = _DELTA_OF_NUM_SDEV[num_sdev]
    return float(_special_n_star(num_samples, theta, delta))


def _approx_bino_ub(num_samples: int, theta: float, num_sdev: int) -> float:
    if theta == 1.0:
        return float(num_samples)
    if num_samples == 0:
        delta = _DELTA_OF_NUM_SDEV[num_sdev]
        return math.ceil(math.log(delta) / math.log(1.0 - theta))
    if num_samples > 120:
        return _cont_classic_ub(num_samples, theta, num_sdev) + 0.5
    if theta > 1.0 - 1e-5:
        return float(num_samples + 1)
    if theta < num_samples / 360.0:
        idx = 3 * num_samples + (num_sdev - 1)
        return _cont_classic_ub(num_samples, theta, UB_EQUIV[idx]) + 0.5
    delta = _DELTA_OF_NUM_SDEV[num_sdev]
    return float(_special_n_prime_f(num_samples, theta, delta))


def _check_binomial_args(num_samples: int, theta: float, num_sdev: int) -> None:
    if num_sdev not in (1, 2, 3) or num_samples < 0:
        raise ValueError(
            f"numSDev must be 1, 2 or 3 and numSamples >= 0: "
            f"numSDev={num_sdev}, numSamples={num_samples}")
    if not 0.0 <= theta <= 1.0:
        raise ValueError(f"0.0 < theta <= 1.0: {theta}")


def binomial_bounds_lower(num_samples: int, theta: float, num_sdev: int,
                          no_data_seen: bool = False) -> float:
    """BinomialBoundsN.getLowerBound(numSamples, theta, numSDev)."""
    if no_data_seen:
        return 0.0
    _check_binomial_args(num_samples, theta, num_sdev)
    lb = _approx_bino_lb(num_samples, theta, num_sdev)
    est = num_samples / theta
    return min(est, max(float(num_samples), lb))


def binomial_bounds_upper(num_samples: int, theta: float, num_sdev: int,
                          no_data_seen: bool = False) -> float:
    """BinomialBoundsN.getUpperBound(numSamples, theta, numSDev)."""
    if no_data_seen:
        return 0.0
    _check_binomial_args(num_samples, theta, num_sdev)
    ub = _approx_bino_ub(num_samples, theta, num_sdev)
    est = num_samples / theta
    return max(est, ub)


# ---------------------------------------------------------------------------
# BoundsOnBinomialProportions (Clopper-Pearson-style proportion bounds)
# ---------------------------------------------------------------------------

def erf(x: float) -> float:
    """A&S 7.1.28 polynomial erf (~7 decimal digits), the reference's
    scipy-free implementation (BoundsOnBinomialProportions.erf)."""
    if x < 0.0:
        return -erf(-x)
    a1, a2, a3 = 0.0705230784, 0.0422820123, 0.0092705272
    a4, a5, a6 = 0.0001520143, 0.0002765672, 0.0000430638
    x2 = x * x
    s = (1.0 + a1 * x + a2 * x2 + a3 * x2 * x
         + a4 * x2 * x2 + a5 * x2 * x2 * x + a6 * x2 * x2 * x2)
    s2 = s * s
    s4 = s2 * s2
    s8 = s4 * s4
    return 1.0 - 1.0 / (s8 * s8)


def normal_cdf(x: float) -> float:
    return 0.5 * (1.0 + erf(x / math.sqrt(2.0)))


def _delta_of_num_stdevs(kappa: float) -> float:
    return normal_cdf(-kappa)


def _abramowitz_stegun_26_5_22(a: float, b: float, yp: float) -> float:
    """Approximate inverse of the incomplete beta I_x(a,b) = delta,
    delta given via yp std-devs of right gaussian tail (A&S p.945)."""
    b2m1 = 2.0 * b - 1.0
    a2m1 = 2.0 * a - 1.0
    lam = (yp * yp - 3.0) / 6.0
    h = 2.0 / (1.0 / a2m1 + 1.0 / b2m1)
    term1 = (yp * math.sqrt(h + lam)) / h
    term2 = (1.0 / b2m1) - (1.0 / a2m1)
    term3 = (lam + 5.0 / 6.0) - (2.0 / (3.0 * h))
    w = term1 - term2 * term3
    return a / (a + b * math.exp(2.0 * w))


def approximate_lower_bound_on_p(n: int, k: int, num_stdevs: float) -> float:
    """BoundsOnBinomialProportions.approximateLowerBoundOnP(n, k, sd)."""
    if n < 0 or k < 0 or k > n:
        raise ValueError(f"need 0 <= k <= n, got n={n} k={k}")
    if n == 0 or k == 0:
        return 0.0
    if k == 1:
        delta = _delta_of_num_stdevs(num_stdevs)
        return 1.0 - (1.0 - delta) ** (1.0 / n)
    if k == n:
        delta = _delta_of_num_stdevs(num_stdevs)
        return delta ** (1.0 / n)
    x = _abramowitz_stegun_26_5_22((n - k) + 1, k, -num_stdevs)
    return 1.0 - x


def approximate_upper_bound_on_p(n: int, k: int, num_stdevs: float) -> float:
    """BoundsOnBinomialProportions.approximateUpperBoundOnP(n, k, sd)."""
    if n < 0 or k < 0 or k > n:
        raise ValueError(f"need 0 <= k <= n, got n={n} k={k}")
    if n == 0 or k == n:
        return 1.0
    if k == n - 1:
        delta = _delta_of_num_stdevs(num_stdevs)
        return (1.0 - delta) ** (1.0 / n)
    if k == 0:
        delta = _delta_of_num_stdevs(num_stdevs)
        return 1.0 - delta ** (1.0 / n)
    x = _abramowitz_stegun_26_5_22(n - k, k + 1, num_stdevs)
    return 1.0 - x


# ---------------------------------------------------------------------------
# BoundsOnRatiosInSampledSets (|B|/|A| under Bernoulli sampling)
# ---------------------------------------------------------------------------

def _hacky_adjuster(f: float) -> float:
    """Variance widening tied to the fixed 2-sigma interval
    (BoundsOnRatiosInSampledSets.hackyAdjuster)."""
    tmp = math.sqrt(1.0 - f)
    return tmp if f <= 0.5 else tmp + 0.01 * (f - 0.5)


def ratio_lower_bound_b_over_a(a: int, b: int, f: float) -> float:
    """BoundsOnRatiosInSampledSets.getLowerBoundForBoverA (95% CI)."""
    if a == 0:
        return 0.0
    if f == 1.0:
        return b / a
    return approximate_lower_bound_on_p(a, b, 2.0 * _hacky_adjuster(f))


def ratio_upper_bound_b_over_a(a: int, b: int, f: float) -> float:
    """BoundsOnRatiosInSampledSets.getUpperBoundForBoverA (95% CI)."""
    if a == 0:
        return 1.0
    if f == 1.0:
        return b / a
    return approximate_upper_bound_on_p(a, b, 2.0 * _hacky_adjuster(f))


# ---------------------------------------------------------------------------
# BoundsOnRatiosInThetaSketchedSets (B subset-of A, both theta-sketched)
# ---------------------------------------------------------------------------

def theta_ratio_bounds(count_a: int, count_b: int,
                       theta_frac: float) -> tuple[float, float, float]:
    """(lb, estimate, ub) of |B|/|A| where B ⊆ A and both counts were
    observed below the same effective theta — the sketched-set
    specialization used by the Jaccard CI
    (thetacommon/BoundsOnRatiosInThetaSketchedSets.java; the caller is
    responsible for restricting count_a to hashes below B's theta)."""
    if count_a <= 0:
        return 0.0, 0.5, 1.0
    return (ratio_lower_bound_b_over_a(count_a, count_b, theta_frac),
            count_b / count_a,
            ratio_upper_bound_b_over_a(count_a, count_b, theta_frac))


# ---------------------------------------------------------------------------
# HLL bounds (RelativeErrorTables + HllEstimators)
# ---------------------------------------------------------------------------

def hll_rel_err(upper_bound: bool, lg_k: int, num_std_dev: int) -> float:
    """Non-HIP (merged-estimator) relative error — our HLL is always
    merge-based, so only the out-of-order tables apply
    (hll/RelativeErrorTables.java:36, hll/HllEstimators.java:63-66)."""
    if lg_k > 12:
        rse = num_std_dev * _HLL_NON_HIP_RSE_FACTOR / math.sqrt(1 << lg_k)
        return -rse if upper_bound else rse
    idx = (lg_k - 4) * 3 + (num_std_dev - 1)
    table = HLL_NON_HIP_UB if upper_bound else HLL_NON_HIP_LB
    return float(table[idx])


def hll_bounds(estimate: float, lg_k: int, num_non_zeros: float,
               num_std_dev: int = 2) -> tuple[float, float]:
    """(lower, upper) per hll/HllEstimators.hllLowerBound/hllUpperBound
    (non-HIP path): est/(1+relErr), floored at numNonZeros for the LB."""
    lb = max(estimate / (1.0 + hll_rel_err(False, lg_k, num_std_dev)),
             num_non_zeros)
    ub = estimate / (1.0 + hll_rel_err(True, lg_k, num_std_dev))
    return lb, ub
