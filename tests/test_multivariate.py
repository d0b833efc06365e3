"""Multivariate drift: PCA reconstruction error + domain classifier."""

import numpy as np
import pandas as pd
import pytest

from spark_validate.chunking import SizeBasedChunker
from spark_validate.drift.multivariate import (
    DataReconstructionDriftCalculator,
    DomainClassifierCalculator,
    _logreg_cv_auc,
)
from spark_validate.thresholds import MedianAbsoluteDeviationThreshold, QuantileThreshold

N_REF, N_ANA, CHUNK = 3000, 1500, 500


@pytest.fixture(scope="module")
def mv_frame(spark):
    rng = np.random.default_rng(16)
    # correlated 3-D gaussian reference; analysis breaks the correlation
    cov = np.array([[1.0, 0.8, 0.2], [0.8, 1.0, 0.1], [0.2, 0.1, 1.0]])
    L = np.linalg.cholesky(cov)
    ref = rng.standard_normal((N_REF, 3)) @ L.T
    ana = rng.standard_normal((N_ANA, 3))  # uncorrelated → higher recon error
    X = np.vstack([ref, ana])
    cat = rng.choice(["u", "v"], N_REF + N_ANA)
    pdf = pd.DataFrame(
        {"id": np.arange(N_REF + N_ANA), "x1": X[:, 0], "x2": X[:, 1], "x3": X[:, 2], "c1": cat}
    )
    pdf["is_ref"] = pdf["id"] < N_REF
    return spark.createDataFrame(pdf), pdf


def test_reconstruction_error_vs_numpy(spark, mv_frame):
    sdf, pdf = mv_frame
    calc = DataReconstructionDriftCalculator(
        ["x1", "x2", "x3"], chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"])
    )
    calc.fit(sdf.filter("is_ref"))
    res = calc.calculate(sdf.filter("NOT is_ref")).orderBy("chunk_index").toPandas()
    # numpy oracle with the same fitted state
    st = calc._state
    W = np.asarray(st["components"])
    mu = np.asarray(st["scale_mean"])
    sd = np.asarray(st["scale_std"])
    P = np.eye(3) - W.T @ W
    a = pdf[~pdf.is_ref].reset_index(drop=True)
    for i in range(3):
        c = a.iloc[i * CHUNK : (i + 1) * CHUNK][["x1", "x2", "x3"]].to_numpy()
        errs = np.linalg.norm(((c - mu) / sd) @ P.T, axis=1)
        assert abs(res["value"].iloc[i] - errs.mean()) < 1e-9
        se = errs.std(ddof=1) / np.sqrt(CHUNK)
        assert abs(res["sampling_error"].iloc[i] - se) < 1e-9
    # drifted correlation structure → alerts fire
    assert res["alert"].any()
    ref_res = calc.reference_result.toPandas()
    assert not ref_res["alert"].any()


def test_reconstruction_state_roundtrip(spark, mv_frame):
    sdf, _ = mv_frame
    calc = DataReconstructionDriftCalculator(
        ["x1", "x2", "c1"], chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"])
    )
    calc.fit(sdf.filter("is_ref"))
    state = calc.get_state()
    calc2 = DataReconstructionDriftCalculator(
        ["x1", "x2", "c1"], chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"])
    ).set_state(state)
    a = calc.calculate(sdf.filter("NOT is_ref")).orderBy("chunk_index").toPandas()
    b = calc2.calculate(sdf.filter("NOT is_ref")).orderBy("chunk_index").toPandas()
    np.testing.assert_allclose(a["value"], b["value"])


@pytest.mark.parametrize(
    "thr", [QuantileThreshold(), MedianAbsoluteDeviationThreshold()], ids=["quantile", "mad"]
)
def test_robust_thresholds_on_reconstruction_drift(spark, mv_frame, thr):
    """Quantile and MAD bands fit on the reference's per-chunk errors; the
    fitted lower bound clamps at 0 (errors are non-negative)."""
    sdf, _ = mv_frame
    calc = DataReconstructionDriftCalculator(
        ["x1", "x2", "x3"], chunker=SizeBasedChunker(chunk_size=CHUNK // 2, order_by=["id"]), threshold=thr
    ).fit(sdf.filter("is_ref"))
    v = calc.reference_result.toPandas()["value"].to_numpy()
    if isinstance(thr, QuantileThreshold):
        lo, up = np.quantile(v, thr.q_lower), np.quantile(v, thr.q_upper)
    else:
        med = np.median(v)
        scale = 1.4826 * np.median(np.abs(v - med))
        lo, up = med - thr.mad_lower_multiplier * scale, med + thr.mad_upper_multiplier * scale
    assert calc._thr == pytest.approx((max(lo, 0.0), up), rel=1e-12)


def test_logreg_auc_separable():
    rng = np.random.default_rng(2)
    X = np.vstack([rng.normal(0, 1, (500, 4)), rng.normal(2, 1, (500, 4))])
    y = np.r_[np.zeros(500), np.ones(500)]
    assert _logreg_cv_auc(X, y) > 0.95
    # indistinguishable classes → ~0.5
    Xn = rng.normal(0, 1, (1000, 4))
    assert abs(_logreg_cv_auc(Xn, y) - 0.5) < 0.1


def test_domain_classifier(spark, mv_frame):
    sdf, _ = mv_frame
    calc = DomainClassifierCalculator(
        ["x1", "x2", "x3"],
        chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
        reference_sample=1500,
    )
    calc.fit(sdf.filter("is_ref"))
    # same-distribution chunks (reference vs itself) → AUC near 0.5, no alert
    res_ref = calc.calculate(sdf.filter("is_ref")).toPandas()
    assert (res_ref["value"] < 0.65).all()
    # drifted analysis (correlation broken) is still marginally separable;
    # at minimum the calculator runs end-to-end and emits bounded AUCs
    res = calc.calculate(sdf.filter("NOT is_ref")).toPandas()
    assert ((res["value"] >= 0) & (res["value"] <= 1)).all()


def test_pca_high_cardinality_categorical(spark):
    """A high-cardinality categorical column must neither collect unbounded
    state nor build a giant when-chain: the frequency map is capped at
    max_categories and applied via a broadcast join."""
    import numpy as np
    import pandas as pd
    from spark_validate.drift.multivariate import DataReconstructionDriftCalculator
    from spark_validate.chunking import SizeBasedChunker

    rng = np.random.default_rng(5)
    n = 4000
    pdf = pd.DataFrame(
        {
            "id": np.arange(n),
            "x": rng.standard_normal(n),
            # ~2000 distinct categories, zipf-ish
            "c": [f"cat_{int(v)}" for v in rng.zipf(1.3, n) % 2000],
        }
    )
    sdf = spark.createDataFrame(pdf)
    calc = DataReconstructionDriftCalculator(
        ["x", "c"],
        chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]),
        max_categories=500,  # far below the true cardinality → cap + join path
    )
    calc.fit(sdf.filter("id < 2000"))
    assert len(calc._state["cat_maps"]["c"]) <= 500
    res = calc.calculate(sdf.filter("id >= 2000")).toPandas()
    assert res["value"].notna().all()
    assert (res["value"] >= 0).all()


def test_domain_classifier_gbdt_catches_nonlinear_drift(spark):
    """The numpy GBDT discriminator (LightGBM stand-in) detects xor-type
    drift a linear model cannot; on an undrifted chunk it stays near 0.5."""
    import numpy as np
    import pandas as pd
    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.drift.multivariate import DomainClassifierCalculator

    rng = np.random.default_rng(2)
    n = 3000
    ref = pd.DataFrame({"id": np.arange(n), "x": rng.standard_normal(n), "y": rng.standard_normal(n)})
    # chunk 0: same distribution; chunk 1: xor-correlated (nonlinear) drift
    a = pd.DataFrame({"id": np.arange(n, 2 * n), "x": rng.standard_normal(n), "y": rng.standard_normal(n)})
    a.loc[a.index[n // 2:], "x"] = (
        np.sign(a["y"].to_numpy()[n // 2:]) * np.abs(a["x"].to_numpy()[n // 2:])
    )
    calc = DomainClassifierCalculator(
        ["x", "y"], chunker=SizeBasedChunker(chunk_size=n // 2, order_by=["id"]), reference_sample=3000
    )
    calc.fit(spark.createDataFrame(ref))
    res = calc.calculate(spark.createDataFrame(a)).orderBy("chunk_index").toPandas()
    assert abs(res["value"].iloc[0] - 0.5) < 0.06          # no drift → chance
    assert res["value"].iloc[1] > 0.65                      # nonlinear drift caught
    # linear model misses it — documents why gbdt is the default
    lin = DomainClassifierCalculator(
        ["x", "y"], chunker=SizeBasedChunker(chunk_size=n // 2, order_by=["id"]),
        reference_sample=3000, model="logreg",
    )
    lin.fit(spark.createDataFrame(ref))
    lres = lin.calculate(spark.createDataFrame(a)).orderBy("chunk_index").toPandas()
    assert lres["value"].iloc[1] < 0.6


class TestChunkPresampling:
    """SURVEY §7.3 sampling contract: per-chunk-model operators bound the
    rows reaching a single Python worker BEFORE the chunk shuffle."""

    def test_presample_bounds_oversized_chunks(self, spark):
        from pyspark.sql import functions as F

        from spark_validate.calculators.base import assign_chunks, presample_chunks
        from spark_validate.chunking import CHUNK_KEY, SizeBasedChunker

        n = 30_000
        pdf = pd.DataFrame({"id": np.arange(n), "x": np.arange(n) * 0.5})
        sdf = spark.createDataFrame(pdf)
        assigned, headers = assign_chunks(sdf, SizeBasedChunker(chunk_size=15_000, order_by=["id"]))
        cap = 1_000
        sampled = presample_chunks(assigned, headers, cap)
        per_chunk = {
            r[CHUNK_KEY]: r["cnt"]
            for r in sampled.groupBy(CHUNK_KEY).agg(F.count("*").alias("cnt")).collect()
        }
        assert len(per_chunk) == 2
        for k, c in per_chunk.items():
            # binomial around cap: ±5 sigma ≈ ±160 at cap=1000
            assert cap * 0.84 <= c <= cap * 1.16, (k, c)

    def test_presample_deterministic_and_noop_under_cap(self, spark):
        from spark_validate.calculators.base import assign_chunks, presample_chunks
        from spark_validate.chunking import SizeBasedChunker

        pdf = pd.DataFrame({"id": np.arange(4_000), "x": np.arange(4_000) * 1.5})
        sdf = spark.createDataFrame(pdf)
        assigned, headers = assign_chunks(sdf, SizeBasedChunker(chunk_size=2_000, order_by=["id"]))
        # under cap: the exact same plan object comes back (no filter added)
        assert presample_chunks(assigned, headers, 2_000) is assigned
        # over cap: two invocations keep the identical row set
        a = set(r["id"] for r in presample_chunks(assigned, headers, 500).select("id").collect())
        b = set(r["id"] for r in presample_chunks(assigned, headers, 500).select("id").collect())
        assert a == b and 400 <= len(a) <= 1_200

    def test_domain_classifier_presamples_before_worker(self, spark):
        """A chunk over chunk_sample is hash-filtered BEFORE the chunk
        shuffle: the result plan carries the xxhash64 threshold filter and
        the AUROC stays a pure function of the data (two runs identical)."""
        rng = np.random.default_rng(7)
        n_ref, n_ana = 2_000, 12_000
        pdf = pd.DataFrame({
            "id": np.arange(n_ref + n_ana),
            "x1": rng.standard_normal(n_ref + n_ana),
            "x2": rng.standard_normal(n_ref + n_ana),
        })
        sdf = spark.createDataFrame(pdf)
        calc = DomainClassifierCalculator(
            ["x1", "x2"],
            chunker=SizeBasedChunker(chunk_size=n_ana, order_by=["id"]),
            chunk_sample=1_000,
            reference_sample=1_000,
            cv_folds=2,
        )
        calc.fit(sdf.filter(f"id < {n_ref}"))
        res = calc.calculate(sdf.filter(f"id >= {n_ref}"))
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "xxhash64" in plan.lower(), "presample filter missing from the physical plan"
        r1 = res.collect()
        r2 = calc.calculate(sdf.filter(f"id >= {n_ref}")).collect()
        assert len(r1) == 1
        assert r1[0]["value"] == r2[0]["value"]
        assert 0.0 <= r1[0]["value"] <= 1.0
