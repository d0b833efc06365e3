"""Probability calibration (reference `nannyml/calibration.py`).

scipy/sklearn are unavailable here, so isotonic regression is implemented
directly: pool-adjacent-violators on tie-averaged points, then linear
interpolation with clipped extrapolation — the same behavior as sklearn's
``IsotonicRegression(out_of_bounds='clip', increasing=True)`` that the
reference uses (`calibration.py:120-149`).

``needs_calibration`` (`calibration.py:226-327`): stratified shuffle-split
cross-validation comparing Expected Calibration Error before/after
calibration, with the reference's early exits (single class, AUROC > 0.999).
Split indices come from a seeded numpy generator — fold membership differs
from sklearn's StratifiedShuffleSplit but the decision procedure is the same.

``with_calibrated`` applies fitted calibrators to DataFrame columns as native
Spark expressions that return the same bits as ``np.interp``, so applying
calibration runs no Python worker.
"""

from __future__ import annotations

import math
from typing import List, Sequence, Tuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pava(y: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Pool-adjacent-violators: weighted isotonic (non-decreasing) fit."""
    y = y.astype(np.float64).copy()
    w = w.astype(np.float64).copy()
    n = len(y)
    # block representation: value, weight, count
    vals: List[float] = []
    wts: List[float] = []
    cnts: List[int] = []
    for i in range(n):
        vals.append(y[i])
        wts.append(w[i])
        cnts.append(1)
        while len(vals) > 1 and vals[-2] > vals[-1]:
            v = (vals[-2] * wts[-2] + vals[-1] * wts[-1]) / (wts[-2] + wts[-1])
            # merge the last two blocks in place (slice assignment, O(1))
            wts[-2:] = [wts[-2] + wts[-1]]
            cnts[-2:] = [cnts[-2] + cnts[-1]]
            vals[-2:] = [v]
    out = np.empty(n)
    pos = 0
    for v, ct in zip(vals, cnts):
        out[pos : pos + ct] = v
        pos += ct
    return out


def _run_endpoints(y: np.ndarray) -> np.ndarray:
    """Mask keeping the first and last point of every run of equal ``y``."""
    keep = np.ones(len(y), dtype=bool)
    if len(y) > 2:
        same = y[1:] == y[:-1]
        keep[1:-1] = ~(same[:-1] & same[1:])
    return keep


class IsotonicCalibrator:
    """Isotonic probability calibrator with clip extrapolation.

    ``fit`` keeps only the end points of each run of equal fitted values,
    which leaves ``calibrate`` bit-for-bit unchanged: ``np.interp`` returns
    ``y[j]`` when the input hits a breakpoint and ``slope*(p - x[j]) + y[j]``
    between breakpoints, and inside a run the slope is exactly 0, so every
    dropped interior point and the run's end points give the same ``y``.
    The segments between runs join the same two adjacent points as before.
    PAVA output is piecewise constant, so a few thousand tie-averaged
    reference scores typically compress to a few dozen breakpoints.
    """

    def __init__(self):
        self._x: np.ndarray = np.array([])
        self._y: np.ndarray = np.array([])

    def fit(self, y_pred_proba: np.ndarray, y_true: np.ndarray) -> "IsotonicCalibrator":
        x = np.asarray(y_pred_proba, dtype=np.float64)
        y = np.asarray(y_true, dtype=np.float64)
        order = np.argsort(x, kind="mergesort")
        x, y = x[order], y[order]
        # average ties so x is strictly increasing (sklearn's make_unique)
        ux, inv, counts = np.unique(x, return_inverse=True, return_counts=True)
        uy = np.bincount(inv, weights=y) / counts
        fitted = pava(uy, counts.astype(np.float64))
        keep = _run_endpoints(fitted)
        self._x, self._y = ux[keep], fitted[keep]
        return self

    def calibrate(self, y_pred_proba: np.ndarray) -> np.ndarray:
        if len(self._x) == 0:
            raise RuntimeError("fit first")
        return np.interp(np.asarray(y_pred_proba, dtype=np.float64), self._x, self._y)

    # state for the JSON store
    def get_state(self) -> dict:
        return {"x": self._x.tolist(), "y": self._y.tolist()}

    def set_state(self, state: dict) -> "IsotonicCalibrator":
        self._x = np.asarray(state["x"], dtype=np.float64)
        self._y = np.asarray(state["y"], dtype=np.float64)
        return self


class NoopCalibrator:
    def fit(self, y_pred_proba, y_true):
        return self

    def calibrate(self, y_pred_proba):
        return np.asarray(y_pred_proba, dtype=np.float64)

    def get_state(self) -> dict:
        return {"noop": True}

    def set_state(self, state: dict):
        return self


def _interp_column(p: Column, segment: Column, x: np.ndarray, y: np.ndarray) -> Column:
    """``np.interp(p, x, y)`` as a Spark expression, given the index of the
    segment ``x[j] <= p < x[j+1]`` that holds ``p``. The branches follow
    numpy's ``arr_interp`` (``numpy/core/src/multiarray/compiled_base.c``)
    and its float64 operations in the same order; NULL and NaN inputs give
    NULL, as a NaN result did on its Arrow trip out of a pandas UDF."""
    if len(x) == 1:
        # numpy's one-point branch compares without a NaN check, so every
        # input, NaN and NULL (NaN in a pandas UDF) too, gets y[0]
        return F.lit(float(y[0]))
    valid = p.isNotNull() & ~F.isnan(p)
    slopes = (y[1:] - y[:-1]) / (x[1:] - x[:-1])

    def at(values, idx):
        return F.array(*[F.lit(float(v)) for v in values])[idx]

    # every row indexes in range, whichever branch Spark evaluates first
    j = F.least(F.greatest(F.coalesce(segment, F.lit(0)), F.lit(0)), F.lit(len(x) - 2))
    xj, xj1, yj, yj1, sj = at(x, j), at(x, j + 1), at(y, j), at(y, j + 1), at(slopes, j)
    forward = sj * (p - xj) + yj
    # numpy's retry from the right end when the first form is NaN
    # (an infinite breakpoint), then its equal-ends fallback
    backward = sj * (p - xj1) + yj1
    return (
        F.when(~valid, F.lit(None).cast("double"))
        .when(p <= F.lit(float(x[0])), F.lit(float(y[0])))
        .when(p >= F.lit(float(x[-1])), F.lit(float(y[-1])))
        .when(p == xj, yj)
        .when(~F.isnan(forward), forward)
        .when(~F.isnan(backward), backward)
        .when(yj == yj1, yj)
    )


def with_calibrated(df: DataFrame, specs: Sequence[Tuple[str, Column, object]]) -> DataFrame:
    """Add one column per ``(name, score, calibrator)``: ``calibrator``
    applied to ``score``, bit-identical to ``calibrator.calibrate``.

    A ``NoopCalibrator`` passes the score through as a double. For an
    ``IsotonicCalibrator``, ``pyspark.ml.feature.Bucketizer`` finds each
    row's segment by a JVM binary search over the interior breakpoints,
    and ``_interp_column`` evaluates numpy's formula with the slopes
    computed here in float64. Scores are offset by ``+ 0.0`` first, which
    turns -0.0 into 0.0: the binary search orders -0.0 below 0.0 where
    numpy's comparisons treat them as equal."""
    tmp = []
    search = []  # (input col, segment col, splits)
    fitted = []
    for i, (name, score, cal) in enumerate(specs):
        if not isinstance(cal, IsotonicCalibrator):
            fitted.append((name, score.cast("double"), None))
            continue
        p, seg = f"_sv_cal_p{i}", f"_sv_cal_seg{i}"
        df = df.withColumn(p, score.cast("double") + F.lit(0.0))
        tmp.append(p)
        x, y = cal._x, cal._y
        segment = None
        if len(x) >= 3:
            splits = [-math.inf] + [float(v) + 0.0 for v in x[1:-1]] + [math.inf]
            search.append((p, seg, splits))
            tmp.append(seg)
            segment = F.col(seg).cast("int")
        elif len(x) == 2:
            segment = F.lit(0)
        fitted.append((name, F.col(p), (segment, x, y)))
    if search:
        from pyspark.ml.feature import Bucketizer  # 0.5 s import, only when needed

        df = Bucketizer(
            splitsArray=[s for _, _, s in search],
            inputCols=[c for c, _, _ in search],
            outputCols=[c for _, c, _ in search],
            handleInvalid="keep",
        ).transform(df)
    for name, p, interp in fitted:
        df = df.withColumn(name, p if interp is None else _interp_column(p, *interp))
    return df.drop(*tmp)


def row_sum(cols: Sequence[Column]) -> Column:
    """Sum of ``cols`` in the order numpy's pairwise summation adds a row
    of that length (``numpy/core/src/umath/loops_utils.h.src``)."""
    n = len(cols)
    if n < 8:
        total = cols[0]
        for c in cols[1:]:
            total = total + c
        return total
    if n <= 128:
        r = list(cols[:8])
        i = 8
        while i < n - n % 8:
            r = [r[j] + cols[i + j] for j in range(8)]
            i += 8
        total = ((r[0] + r[1]) + (r[2] + r[3])) + ((r[4] + r[5]) + (r[6] + r[7]))
        for c in cols[i:]:
            total = total + c
        return total
    half = n // 2
    half -= half % 8
    return row_sum(cols[:half]) + row_sum(cols[half:])


def _bin_index_edges(n: int, bin_count: int) -> List[Tuple[int, int]]:
    """Equal-count index bin edges (`calibration.py:164-190`)."""
    bin_width = n // bin_count
    return [
        (i * bin_width, (i + 1) * bin_width if i < bin_count - 1 else n)
        for i in range(bin_count)
    ]


def expected_calibration_error(y_true: np.ndarray, y_pred_proba: np.ndarray, bin_count: int = 10) -> float:
    """ECE over equal-count score bins (`calibration.py:193-223`)."""
    order = np.argsort(y_pred_proba)
    y = np.asarray(y_true, dtype=np.float64)[order]
    p = np.asarray(y_pred_proba, dtype=np.float64)[order]
    n = len(p)
    ece = 0.0
    for lo, hi in _bin_index_edges(n, bin_count):
        if hi <= lo:
            continue
        conf = p[lo:hi].mean()
        acc = y[lo:hi].mean()
        ece += (hi - lo) / n * abs(acc - conf)
    return ece


def _auc(y: np.ndarray, s: np.ndarray) -> float:
    order = np.argsort(s, kind="mergesort")
    ss = s[order]
    ranks = np.empty(len(s))
    i = 0
    r = 1
    while i < len(s):
        j = i
        while j + 1 < len(s) and ss[j + 1] == ss[i]:
            j += 1
        ranks[order[i : j + 1]] = (2 * r + (j - i)) / 2
        r += j - i + 1
        i = j + 1
    n1 = y.sum()
    n0 = len(y) - n1
    if n1 == 0 or n0 == 0:
        return float("nan")
    return float((ranks[y == 1].sum() - n1 * (n1 + 1) / 2) / (n1 * n0))


def needs_calibration(
    y_true: np.ndarray,
    y_pred_proba: np.ndarray,
    bin_count: int = 10,
    split_count: int = 10,
    seed: int = 42,
) -> bool:
    y_true = np.asarray(y_true, dtype=np.float64)
    y_pred_proba = np.asarray(y_pred_proba, dtype=np.float64)
    if len(np.unique(y_true)) == 1:
        return False
    if _auc(y_true, y_pred_proba) > 0.999:
        return False
    rng = np.random.default_rng(seed)
    n = len(y_true)
    test_size = max(int(0.1 * n), 1)
    ys, ps, cs = [], [], []
    pos_idx = np.where(y_true == 1)[0]
    neg_idx = np.where(y_true != 1)[0]
    for _ in range(split_count):
        # stratified test split
        t_pos = rng.choice(pos_idx, max(int(round(test_size * len(pos_idx) / n)), 1), replace=False)
        t_neg = rng.choice(neg_idx, max(int(round(test_size * len(neg_idx) / n)), 1), replace=False)
        test = np.concatenate([t_pos, t_neg])
        train = np.setdiff1d(np.arange(n), test)
        cal = IsotonicCalibrator().fit(y_pred_proba[train], y_true[train])
        ys.append(y_true[test])
        ps.append(y_pred_proba[test])
        cs.append(cal.calibrate(y_pred_proba[test]))
    yv, pv, cv = np.concatenate(ys), np.concatenate(ps), np.concatenate(cs)
    return expected_calibration_error(yv, pv, bin_count) > expected_calibration_error(yv, cv, bin_count)
