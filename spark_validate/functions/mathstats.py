"""Pure-numpy statistical kernels (scipy is not available in this runtime).

Each mirrors the published formula the reference relies on via scipy:

* ``js_distance_from_probs`` — Jensen-Shannon distance base 2
  (scipy.spatial.distance.jensenshannon semantics: sqrt of JS divergence).
* ``hellinger_from_probs`` — sqrt(Σ(√p−√q)²)/√2.
* ``psi_from_probs`` — Population Stability Index with probability clipping.
* ``chi2_sf`` — chi-squared survival function via the regularized upper
  incomplete gamma function Q(k/2, x/2) (series + continued fraction,
  Numerical Recipes §6.2 formulation — standard public algorithm).
* ``gaussian_kde_at`` — Gaussian KDE density at points, Scott's-rule
  bandwidth, matching scipy.stats.gaussian_kde defaults for 1-D data.
* ``ks_stat_2samp`` / ``wasserstein_1d`` — exact two-sample statistics for
  the small-data 'exact' paths.

These run on the driver or inside Arrow-batched UDFs over tiny per-chunk
aggregates — they never see raw web-scale data.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "js_distance_from_probs",
    "hellinger_from_probs",
    "psi_from_probs",
    "l_infinity_from_probs",
    "chi2_sf",
    "chi2_stat_2xk",
    "gaussian_kde_at",
    "ks_stat_2samp",
    "wasserstein_1d",
]


def js_distance_from_probs(p, q, base: float = 2.0) -> float:
    """Jensen-Shannon distance between two probability vectors.

    distance = sqrt( (KL(p||m) + KL(q||m)) / 2 ), m = (p+q)/2, logs in `base`.
    Zero-probability terms contribute 0 (lim x→0 x·log x = 0).
    """
    p = np.asarray(p, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    ps, qs = p.sum(), q.sum()
    if ps <= 0 or qs <= 0:
        return float("nan")
    p, q = p / ps, q / qs
    m = 0.5 * (p + q)
    with np.errstate(divide="ignore", invalid="ignore"):
        kl_pm = np.where(p > 0, p * np.log(p / m), 0.0)
        kl_qm = np.where(q > 0, q * np.log(q / m), 0.0)
    js_div = 0.5 * (kl_pm.sum() + kl_qm.sum()) / math.log(base)
    js_div = max(js_div, 0.0)
    return float(math.sqrt(js_div))


def hellinger_from_probs(p, q) -> float:
    p = np.asarray(p, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    return float(np.sqrt(np.sum((np.sqrt(p) - np.sqrt(q)) ** 2)) / math.sqrt(2.0))


def l_infinity_from_probs(p, q) -> float:
    p = np.asarray(p, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    return float(np.max(np.abs(p - q)))


def psi_from_probs(p, q, eps: float = 1e-4) -> float:
    """Population Stability Index Σ (q−p)·ln(q/p), probabilities clipped to
    ``eps`` to keep empty bins finite (standard industry smoothing), then
    renormalized to sum 1. The engine's PSI (``drift/univariate.py::
    bin_terms``) clips without renormalizing, so the two agree only on
    histograms without an empty bin; on one with an empty bin they differ
    by O(eps)."""
    p = np.clip(np.asarray(p, dtype=np.float64), eps, None)
    q = np.clip(np.asarray(q, dtype=np.float64), eps, None)
    p = p / p.sum()
    q = q / q.sum()
    return float(np.sum((q - p) * np.log(q / p)))


# -- incomplete gamma / chi2 ---------------------------------------------------

_MAX_ITER = 500
_EPS = 3.0e-14


def _gamma_p_series(a: float, x: float) -> float:
    """Lower regularized incomplete gamma P(a,x) by series expansion (x < a+1)."""
    gln = math.lgamma(a)
    ap = a
    summ = 1.0 / a
    delta = summ
    for _ in range(_MAX_ITER):
        ap += 1.0
        delta *= x / ap
        summ += delta
        if abs(delta) < abs(summ) * _EPS:
            break
    return summ * math.exp(-x + a * math.log(x) - gln)


def _gamma_q_contfrac(a: float, x: float) -> float:
    """Upper regularized incomplete gamma Q(a,x) by continued fraction (x ≥ a+1)."""
    gln = math.lgamma(a)
    tiny = 1.0e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, _MAX_ITER + 1):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    return math.exp(-x + a * math.log(x) - gln) * h


def gamma_q(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) = Γ(a,x)/Γ(a)."""
    if x < 0 or a <= 0:
        return float("nan")
    if x == 0:
        return 1.0
    if x < a + 1.0:
        return 1.0 - _gamma_p_series(a, x)
    return _gamma_q_contfrac(a, x)


def chi2_sf(x: float, df: float) -> float:
    """Chi-squared survival function P(X > x) = Q(df/2, x/2)."""
    if math.isnan(x) or math.isnan(df):
        return float("nan")
    if x <= 0:
        return 1.0
    return min(max(gamma_q(df / 2.0, x / 2.0), 0.0), 1.0)


def chi2_stat_2xk(ref_counts, obs_counts):
    """Pearson chi-squared statistic + dof for a 2×k contingency table
    (rows = reference/observed counts per category), matching
    scipy.stats.chi2_contingency with correction=False for k>2 tables.

    Columns whose both entries are 0 are dropped (they carry no information
    and would divide by zero). Returns (stat, dof).
    """
    r = np.asarray(ref_counts, dtype=np.float64)
    o = np.asarray(obs_counts, dtype=np.float64)
    keep = (r + o) > 0
    r, o = r[keep], o[keep]
    k = len(r)
    if k < 2:
        return 0.0, 0.0
    total = r.sum() + o.sum()
    col = r + o
    er = col * (r.sum() / total)
    eo = col * (o.sum() / total)
    stat = float(np.sum((r - er) ** 2 / er) + np.sum((o - eo) ** 2 / eo))
    dof = float(k - 1)
    return stat, dof


# -- KDE -----------------------------------------------------------------------


def gaussian_kde_at(data, points) -> np.ndarray:
    """Gaussian KDE evaluated at ``points``; Scott bandwidth factor n^(-1/5)
    on the unbiased sample std — scipy.stats.gaussian_kde 1-D defaults."""
    data = np.asarray(data, dtype=np.float64)
    data = data[~np.isnan(data)]
    points = np.atleast_1d(np.asarray(points, dtype=np.float64))
    n = len(data)
    if n < 2:
        return np.full(len(points), np.nan)
    std = data.std(ddof=1)
    if std == 0:
        return np.full(len(points), np.inf)
    h = std * n ** (-1.0 / 5.0)
    z = (points[:, None] - data[None, :]) / h
    dens = np.exp(-0.5 * z * z).sum(axis=1) / (n * h * math.sqrt(2.0 * math.pi))
    return dens


# -- exact two-sample statistics ------------------------------------------------


def ks_stat_2samp(a, b) -> float:
    """Exact two-sample Kolmogorov-Smirnov D statistic."""
    a = np.sort(np.asarray(a, dtype=np.float64))
    b = np.sort(np.asarray(b, dtype=np.float64))
    allv = np.concatenate([a, b])
    cdf_a = np.searchsorted(a, allv, side="right") / len(a)
    cdf_b = np.searchsorted(b, allv, side="right") / len(b)
    return float(np.max(np.abs(cdf_a - cdf_b)))


def wasserstein_1d(a, b) -> float:
    """Exact 1-D Wasserstein-1 distance (CDF-difference integral)."""
    a = np.sort(np.asarray(a, dtype=np.float64))
    b = np.sort(np.asarray(b, dtype=np.float64))
    allv = np.sort(np.concatenate([a, b]))
    deltas = np.diff(allv)
    cdf_a = np.searchsorted(a, allv[:-1], side="right") / len(a)
    cdf_b = np.searchsorted(b, allv[:-1], side="right") / len(b)
    return float(np.sum(np.abs(cdf_a - cdf_b) * deltas))


def cvm_dist_2samp(a, b) -> float:
    """Exact two-sample Cramér–von Mises DISTANCE
    ω² = ∫ (F_a − F_b)² dH with H = (F_a + F_b)/2 — the pooled
    Lebesgue–Stieltjes integral of the squared ECDF gap, NOT the classical
    T test statistic (no sample-size scaling, no p-value): a bounded [0, 1]
    distance that thresholds like the other drift distances. Evaluated at
    the distinct pooled values with right-continuous ECDFs; identical
    samples → 0, disjoint supports → limit 1/4·(1) + ... < 1."""
    a = np.sort(np.asarray(a, dtype=np.float64))
    b = np.sort(np.asarray(b, dtype=np.float64))
    allv = np.unique(np.concatenate([a, b]))
    cdf_a = np.searchsorted(a, allv, side="right") / len(a)
    cdf_b = np.searchsorted(b, allv, side="right") / len(b)
    # step masses of H at each pooled point: ΔH = (ΔF_a + ΔF_b) / 2
    da = np.diff(np.concatenate([[0.0], cdf_a]))
    db = np.diff(np.concatenate([[0.0], cdf_b]))
    return float(np.sum((cdf_a - cdf_b) ** 2 * (da + db) / 2.0))


def average_precision(y_true, scores) -> float:
    """Tie-grouped average precision (sklearn semantics: AP = Σ ΔR·P over
    descending-score thresholds) — numpy mirror of the Spark expression used
    by PerformanceCalculator (oracle-verified there)."""
    y = np.asarray(y_true, dtype=np.float64)
    s = np.asarray(scores, dtype=np.float64)
    order = np.argsort(-s, kind="mergesort")
    y, s = y[order], s[order]
    n_pos = y.sum()
    if n_pos == 0 or len(y) == 0:
        return float("nan")
    boundaries = np.r_[np.nonzero(np.diff(s))[0], len(s) - 1]
    tp = np.cumsum(y)[boundaries]
    rec = tp / n_pos
    prec = tp / (boundaries + 1.0)
    return float(np.sum(np.diff(np.r_[0.0, rec]) * prec))


def _beta_contfrac(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta (modified Lentz method,
    the public Numerical Recipes `betacf` algorithm)."""
    tiny = 1.0e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, _MAX_ITER + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    return h


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if math.isnan(a) or math.isnan(b) or math.isnan(x):
        return float("nan")
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _beta_contfrac(a, b, x) / a
    return 1.0 - bt * _beta_contfrac(b, a, 1.0 - x) / b


def t_sf_two_sided(t: float, df: float) -> float:
    """Two-sided Student-t survival probability P(|T| > |t|) =
    I_{df/(df+t²)}(df/2, 1/2)."""
    if math.isnan(t) or df <= 0:
        return float("nan")
    if math.isinf(t):
        return 0.0
    return min(max(betainc_reg(df / 2.0, 0.5, df / (df + t * t)), 0.0), 1.0)


def pearsonr_pvalue(r, n) -> float:
    """Two-sided p-value for a Pearson correlation under H0: ρ=0
    (`scipy.stats.pearsonr` semantics: t = r·√((n−2)/(1−r²)), t-dist with
    n−2 dof). NaN for n ≤ 2 or undefined r (constant series)."""
    if r is None or n is None or n <= 2 or (isinstance(r, float) and math.isnan(r)):
        return float("nan")
    r = max(min(float(r), 1.0), -1.0)
    if abs(r) == 1.0:
        return 0.0
    t = r * math.sqrt((n - 2) / (1.0 - r * r))
    return t_sf_two_sided(t, float(n - 2))
