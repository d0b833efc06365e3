"""Clamp semantics of the fitted alert bounds, per calculator.

Every calculator fits and clamps through ``thresholds.fit_thresholds``; the
limits and whether a ``ConstantThreshold`` is clamped are each caller's own:
univariate drift and CBPE clamp constants to the metric's limits, DLE and the
reconstruction calculator keep a constant as given. A disabled side stays
``None`` whatever the limits. The StandardDeviation band's bits do not
depend on the input's partitioning.
"""

import numpy as np
import pandas as pd
import pytest

from spark_validate.chunking import SizeBasedChunker
from spark_validate.drift.multivariate import DataReconstructionDriftCalculator
from spark_validate.drift.univariate import UnivariateDriftCalculator
from spark_validate.performance.cbpe import CBPE
from spark_validate.performance.dle import DLE
from spark_validate.thresholds import ConstantThreshold, StandardDeviationThreshold, fit_thresholds

N, CHUNK = 1200, 200


@pytest.fixture(scope="module")
def ref(spark):
    rng = np.random.default_rng(3)
    f1, f2 = rng.normal(0, 1, N), rng.normal(0, 1, N)
    p = 1 / (1 + np.exp(-f1))
    pdf = pd.DataFrame(
        {
            "id": np.arange(N),
            "x": rng.normal(0, 1, N),
            "x2": f1 * 0.8 + rng.normal(0, 0.5, N),
            "f1": f1,
            "f2": f2,
            "y_true": (rng.random(N) < p).astype(int),
            "y_pred": (p > 0.5).astype(int),
            "y_pred_proba": p,
            "ry_true": 2 * f1 + f2 + rng.normal(0, 1, N),
            "ry_pred": 2 * f1 + f2,
        }
    )
    return spark.createDataFrame(pdf)


def _chunker():
    return SizeBasedChunker(chunk_size=CHUNK, order_by=["id"])


def _univariate(thr):
    return UnivariateDriftCalculator(["x"], continuous_methods=["jensen_shannon"], chunker=_chunker(), threshold=thr)


def _cbpe(thr):
    return CBPE(["roc_auc"], chunker=_chunker(), threshold=thr)


def _dle(thr):
    return DLE(["mae"], ["f1", "f2"], y_pred="ry_pred", y_true="ry_true", loss_model="ridge", chunker=_chunker(), threshold=thr)


def _reconstruction(thr):
    return DataReconstructionDriftCalculator(["x", "x2", "f1"], chunker=_chunker(), threshold=thr)


def _bounds(calc):
    if isinstance(calc, DataReconstructionDriftCalculator):
        return [calc._thr]
    return list(calc._thresholds.values())


# (calculator, lower bound an out-of-limit ConstantThreshold(-0.5, 0.3) ends with)
CASES = [
    pytest.param(_univariate, 0.0, id="univariate"),
    pytest.param(_cbpe, 0.0, id="cbpe"),
    pytest.param(_dle, -0.5, id="dle"),
    pytest.param(_reconstruction, -0.5, id="reconstruction"),
]


@pytest.mark.parametrize("make, constant_lower", CASES)
def test_clamp_semantics(spark, ref, make, constant_lower):
    calc = make(ConstantThreshold(lower=-0.5, upper=0.3)).fit(ref)
    assert _bounds(calc) and all(b == (constant_lower, 0.3) for b in _bounds(calc))
    # disabled lower side: stays None under a 0 lower limit
    calc = make(StandardDeviationThreshold(std_lower_multiplier=None)).fit(ref)
    assert all(lo is None and up is not None for lo, up in _bounds(calc))
    if hasattr(calc, "release_cache"):
        calc.release_cache()


def _values(spark, rows, partitions):
    df = spark.createDataFrame(rows, "method string, value double")
    return df.coalesce(1) if partitions == 1 else df.repartition(partitions)


def test_std_band_is_independent_of_partitioning(spark):
    """The StandardDeviation band adds the values in a fixed order, so the
    same values read from 1 and from 7 partitions give the same bits."""
    rng = np.random.default_rng(11)
    rows = [(m, float(v)) for m in ("a", "b") for v in rng.lognormal(0.0, 2.0, 300)]
    thr = StandardDeviationThreshold()
    one = fit_thresholds(_values(spark, rows, 1), ["method"], thr)
    seven = fit_thresholds(_values(spark, rows, 7), ["method"], thr)
    assert one == seven


def test_std_band_null_nan_and_single_value(spark):
    """NULL values are skipped, a NaN propagates, one value gives σ = 0 and
    a group of NULLs NULL bounds."""
    rows = [
        ("skip", 1.0), ("skip", None), ("skip", 3.0),
        ("nan", 1.0), ("nan", float("nan")),
        ("single", 2.5),
        ("empty", None), ("empty", None),
    ]
    out = fit_thresholds(_values(spark, rows, 3), ["method"], StandardDeviationThreshold())
    assert out["skip"] == (2.0 - 3.0, 2.0 + 3.0)
    assert all(b != b for b in out["nan"])
    assert out["single"] == (2.5, 2.5)
    assert out["empty"] == (None, None)
