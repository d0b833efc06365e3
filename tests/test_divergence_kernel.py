"""The divergence kernel (`drift/univariate.py::bin_terms` / ``divergences``)
against the numpy references in `functions/mathstats.py`.

Each histogram is evaluated twice from one small frame: in long form (one
row per bin, ``F.sum`` of the per-bin terms, p a Column) and in wide form
(one row per histogram, one column per bin, p a fitted Python float, summed
with ``sum_bins``). The leftover lump is the analysis mass outside the
reference bins; the numpy side sees it as one more bin with p = 0.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_validate.drift.univariate import DIVERGENCE_METHODS, bin_terms, divergences, sum_bins
from spark_validate.functions.local import local_frame
from spark_validate.functions.mathstats import (
    hellinger_from_probs,
    js_distance_from_probs,
    psi_from_probs,
)

EPS = 1e-4
N_BINS = 5


def _histograms():
    """name → (p, q, lump): p sums to 1 over the bins, q to 1 − lump."""
    rng = np.random.default_rng(11)

    def dirichlet(zero=()):
        v = rng.dirichlet(np.ones(N_BINS))
        v[list(zero)] = 0.0
        return v / v.sum()

    same = dirichlet()
    hists = {
        "plain": (dirichlet(), dirichlet(), 0.0),
        "lump": (dirichlet(), dirichlet(), 0.07),
        "zero_p_and_q": (dirichlet(zero=(2, 4)), dirichlet(zero=(0, 4)), 0.0),
        "zeros_and_lump": (dirichlet(zero=(1,)), dirichlet(zero=(3,)), 0.2),
        "identical": (same, same.copy(), 0.0),
    }
    return {k: (p, q * (1.0 - lump), lump) for k, (p, q, lump) in hists.items()}


HISTS = _histograms()
NAMES = sorted(HISTS)


@pytest.fixture(scope="module")
def values(spark):
    """(long, wide): name → {method: value}, from one frame and two queries."""
    rows = [
        (name, b, float(p[b]), float(q[b]))
        for name, (p, q, _) in HISTS.items()
        for b in range(N_BINS)
    ]
    frame = local_frame(spark, rows, "h string, b int, p double, q double")

    terms = bin_terms(F.col("p"), F.col("q"), EPS)
    long_rows = (
        frame.groupBy("h")
        .agg(F.sum("q").alias("_q"), *[F.sum(t).alias(f"_{k}") for k, t in terms.items()])
        .select(
            "h",
            *[
                v.alias(m)
                for m, v in divergences(
                    DIVERGENCE_METHODS,
                    {k: F.col(f"_{k}") for k in terms},
                    F.lit(1.0) - F.col("_q"),
                    EPS,
                ).items()
            ],
        )
        .collect()
    )

    # one pivoted row per histogram; each histogram's own columns read it
    wide = frame.groupBy("h").pivot("b", list(range(N_BINS))).agg(F.first("q"))
    qs = [F.col(str(b)) for b in range(N_BINS)]
    leftover = F.lit(1.0) - sum(qs, F.lit(0.0))
    cols = []
    for name in NAMES:
        p = HISTS[name][0]
        sums = sum_bins([bin_terms(float(p[b]), qs[b], EPS) for b in range(N_BINS)])
        cols += [v.alias(f"{name}.{m}") for m, v in divergences(DIVERGENCE_METHODS, sums, leftover, EPS).items()]
    wide_rows = [
        {"h": r["h"], **{m: r[f"{r['h']}.{m}"] for m in DIVERGENCE_METHODS}}
        for r in wide.select("h", *cols).collect()
    ]

    return {r["h"]: r.asDict() for r in long_rows}, {r["h"]: r for r in wide_rows}


def _reference(name):
    p, q, lump = HISTS[name]
    p_full, q_full = np.append(p, 0.0), np.append(q, lump)
    pc, qc = np.maximum(p_full, EPS), np.maximum(q_full, EPS)
    return {
        "jensen_shannon": js_distance_from_probs(p_full, q_full),
        "hellinger": hellinger_from_probs(p_full, q_full),
        # the engine clips at eps without renormalizing (psi_from_probs
        # renormalizes after clipping, so the two agree only when no bin
        # is clipped — checked separately below)
        "psi": float(np.sum((qc - pc) * np.log(qc / pc))),
        "kl": float(np.sum(qc * np.log(qc / pc))),
        "tvd": float(0.5 * np.abs(p_full - q_full).sum()),
    }


@pytest.mark.parametrize("form", ["long", "wide"])
@pytest.mark.parametrize("name", NAMES)
def test_kernel_matches_numpy(values, form, name):
    got = values[0 if form == "long" else 1][name]
    for m, want in _reference(name).items():
        assert got[m] == pytest.approx(want, rel=1e-12, abs=0.0), (m, got[m], want)


def test_kernel_psi_matches_psi_from_probs_when_nothing_is_clipped(values):
    p, q, lump = HISTS["plain"]
    assert min(p.min(), q.min()) > EPS and lump == 0.0
    want = psi_from_probs(p, q, EPS)
    for form in values:
        assert form["plain"]["psi"] == pytest.approx(want, rel=1e-12)


def test_wide_form_folds_empty_reference_bins_at_plan_build():
    """A fitted p == 0 contributes no JS p-term expression at all."""
    q = F.col("q")
    assert bin_terms(0.0, q, EPS, ("jensen_shannon",))["js_p"] is None
    assert bin_terms(0.25, q, EPS, ("jensen_shannon",))["js_p"] is not None
    sums = sum_bins([bin_terms(0.0, q, EPS, ("jensen_shannon",))] * 3)
    assert set(sums) == {"js_q"}
