"""Streaming univariate drift from batch-fitted state.

The reference is batch-only (APScheduler re-runs, `nannyml/cli/run.py:46-58`).
Here a FITTED ``UnivariateDriftCalculator`` compiles into a Structured
Streaming query: a tumbling event-time window is exactly a period chunk, so
per-window JS / Hellinger / PSI / TVD / KL stream out of ONE windowed aggregation —
per-reference-bin conditional count columns (the fitted bin edges, category
sets, reference probabilities and mean±kσ thresholds are all broadcast-able
constants baked into the plan) followed by a pure projection through the
batch path's divergence kernel (`drift/univariate.py::bin_terms` /
``divergences``, leftover-mass bin included). Values agree with
``calc.calculate`` under a matching period chunker up to floating-point
summation order — the batch path sums bins as rows of a grouped aggregate,
this one as count columns in bin order — which the tests pin at rtol 1e-12
(``test_streaming_drift_matches_batch``).

Scope: js / hellinger / psi / tvd / kl (continuous and categorical). KS and Wasserstein
need cumulative-ECDF machinery across buckets (windowed sort), and
l_infinity / chi2 need per-unseen-category terms — those stay batch-side;
run them on the completed window's data via foreachBatch if needed.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _melt(agg: DataFrame, specs: List[tuple]) -> DataFrame:
    pairs = [
        F.struct(
            F.lit(col).alias("column_name"),
            F.lit(method).alias("method"),
            value.cast("double").alias("value"),
            F.lit(lo).cast("double").alias("lower_threshold"),
            F.lit(up).cast("double").alias("upper_threshold"),
        )
        for col, method, value, lo, up in specs
    ]
    out = agg.select("window", F.explode(F.array(*pairs)).alias("kv")).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "kv.column_name",
        "kv.method",
        "kv.value",
        "kv.lower_threshold",
        "kv.upper_threshold",
    )
    alert = (F.col("lower_threshold").isNotNull() & (F.col("value") < F.col("lower_threshold"))) | (
        F.col("upper_threshold").isNotNull() & (F.col("value") > F.col("upper_threshold"))
    )
    return out.withColumn("alert", F.coalesce(alert, F.lit(False)))


def streaming_univariate_drift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``UnivariateDriftCalculator`` into a streaming
    drift query. Returns the long-form per-window result stream
    (window_start/end, column_name, method, value, thresholds, alert).
    """
    from spark_validate.drift.univariate import (
        DIVERGENCE_METHODS,
        DOANE_METHODS,
        bin_terms,
        bucket_expr,
        divergences,
        sum_bins,
    )

    if not calc._fitted:
        raise RuntimeError("fit the calculator on the reference period first")
    cont_methods = [m for m in calc.continuous_methods if m in DIVERGENCE_METHODS]
    cat_methods = [m for m in calc.categorical_methods if m in DIVERGENCE_METHODS]
    if not (calc._cont_cols and cont_methods) and not (calc._cat_cols and cat_methods):
        raise ValueError(
            f"no streamable methods on the fitted calculator; streaming supports {DIVERGENCE_METHODS} "
            "(KS/Wasserstein/l_infinity/chi2 are batch-side — run them via foreachBatch)"
        )
    src = stream
    if watermark:
        src = src.withWatermark(timestamp_column, watermark)
    from spark_validate.calculators.base import nan_to_null

    # the repo-wide NaN convention, mirrored from the batch calculator
    # (univariate.py:119,351): a NaN row must neither count toward __n nor
    # land in the out-of-range bucket as phantom leftover mass — decode
    # failures emit NaN pixel stats, so payload streams hit this in practice
    dtypes = dict(stream.dtypes)

    aggs = []
    specs = []  # (column, method, value_expr_builder inputs)
    plan = []  # (col, kind, spec_name, n_bins/cats, probs, methods)
    for c in calc._cont_cols:
        st = calc._cont_state[c]
        needed = set()
        if set(DOANE_METHODS) & set(cont_methods):
            needed.add("doane")
        if "psi" in cont_methods:
            needed.add("psi")
        v = nan_to_null(F.col(c), dtypes.get(c, "double")).cast("double")
        aggs.append(F.count(v).alias(f"{c}__n"))
        for spec in sorted(needed & set(st.specs)):
            n_bins, probs = st.specs[spec]
            b = bucket_expr(v, st.lo, st.hi, n_bins)
            for i in range(n_bins):
                aggs.append(
                    F.sum(F.when(v.isNotNull() & (b == i), 1).otherwise(0)).alias(f"{c}__{spec}__{i}")
                )
            methods = (
                [m for m in cont_methods if m in DOANE_METHODS]
                if spec == "doane"
                else ["psi"]
            )
            plan.append((c, spec, n_bins, probs, methods))
    for c in calc._cat_cols:
        st = calc._cat_state[c]
        v = nan_to_null(F.col(c), dtypes.get(c, "string")).cast("string")
        aggs.append(F.count(v).alias(f"{c}__n"))
        cats = sorted(st.counts)
        for i, val in enumerate(cats):
            aggs.append(F.sum(F.when(v == F.lit(val), 1).otherwise(0)).alias(f"{c}__cat__{i}"))
        probs = [st.counts[val] / st.n_ref for val in cats]
        plan.append((c, "cat", len(cats), probs, cat_methods))

    agg = src.groupBy(F.window(F.col(timestamp_column), window_duration)).agg(*aggs)

    for c, spec, n, probs, methods in plan:
        n_col = F.col(f"{c}__n")
        prefix = f"{c}__cat__" if spec == "cat" else f"{c}__{spec}__"
        qs = [F.col(f"{prefix}{i}") / n_col for i in range(n)]
        sums = sum_bins([bin_terms(p, q, calc.psi_eps, methods) for p, q in zip(probs, qs)])
        # window mass outside the reference bins / categories is the lump
        exprs = divergences(methods, sums, F.lit(1.0) - sum(qs, F.lit(0.0)), calc.psi_eps)
        for method, value in exprs.items():
            lo, up = calc._thresholds.get((c, method), (None, None))
            # an all-null window (n = 0) must yield NULL, not a fabricated
            # value: the q terms go null and greatest(null, 0) would read as
            # "JS 0 / no drift" while PSI's eps clamp would spike instead
            value = F.when(n_col > 0, value)
            specs.append((c, method, value, lo, up))
    return _melt(agg, specs)


def streaming_phash_drift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``PhashHistogramDrift``
    (`spark_validate/image/phash.py`) into a streaming drift query: the
    batch check is already one pivoted width_bucket-count aggregation plus
    a PSI projection over fitted constants, so the streaming form swaps the
    chunk groupBy for a tumbling event-time window and reuses the SAME
    count expressions and PSI column — bit-identical per-window values to
    a batch run over the window's rows."""
    if calc._state is None:
        raise RuntimeError("fit the check on the reference period first")
    src = stream
    if watermark:
        src = src.withWatermark(timestamp_column, watermark)
    agg = src.groupBy(F.window(F.col(timestamp_column), window_duration)).agg(
        *calc._count_exprs("")
    )
    specs = [(calc.column, "psi_width_bucket", calc._psi_col(""), None, calc.upper_threshold)]
    return _melt(agg, specs)


def streaming_vocab_drift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``VocabDriftCheck`` (`spark_validate/text/vocab.py`)
    into a streaming OOV-rate query: tokens explode statelessly per
    micro-batch, the fitted ≤top-K vocabulary joins as a BROADCAST
    stream-static join (no state store — the vocab is a constant), and the
    per-window rate is one tumbling event-time aggregation. The watermark
    is applied BEFORE the explode/join (the decontamination pattern) so
    append-mode window finalization works; per-window values are
    bit-identical to a batch run over the window's rows (same count
    expressions, same long/long→double division)."""
    if calc._vocab is None:
        raise RuntimeError("fit the check on the reference period first")
    src = stream
    if watermark:
        src = src.withWatermark(timestamp_column, watermark)
    tok = src.select(
        timestamp_column, F.explode_outer(calc._tokens()).alias("token")
    )
    marked = tok.join(
        F.broadcast(calc._vocab_df(stream.sparkSession)), "token", "left"
    )
    agg = marked.groupBy(F.window(F.col(timestamp_column), window_duration)).agg(
        F.count("token").alias("__n_tokens"),
        F.count(
            F.when(F.col("token").isNotNull() & F.col("_in_vocab").isNull(), F.lit(1))
        ).alias("__n_oov"),
    )
    value = F.when(
        F.col("__n_tokens") > 0, F.col("__n_oov") / F.col("__n_tokens")
    )
    specs = [(calc.text_col, "oov_rate", value, None, calc._fitted_threshold)]
    return _melt(agg, specs)


def streaming_prior_shift(
    stream: DataFrame,
    est,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``PriorShiftEstimator``
    (`spark_validate/performance/quantify.py`) into a streaming query: ONE
    tumbling windowed average of the prediction column, the fitted
    tpr/fpr inversion applied as constant-folded arithmetic — per-window
    prevalence estimates bit-identical to the batch chunk path. (Batch
    emits the informational ``prevalence_cc`` row with a NULL alert; the
    streaming melt normalizes no-threshold rows to alert=False.)"""
    if est._state is None:
        raise RuntimeError("fit the estimator on the labeled reference first")
    yp = F.col(est.y_pred).cast("double")
    src = stream
    if watermark:
        src = src.withWatermark(timestamp_column, watermark)
    agg = (
        src.filter(yp.isNotNull())
        .groupBy(F.window(F.col(timestamp_column), window_duration))
        .agg(F.avg(yp).alias("_q"))
    )
    acc = est._estimates(F.col("_q"))
    prior = est._state["ref_prior"]
    lo = max(prior - est.shift_threshold, 0.0)
    up = min(prior + est.shift_threshold, 1.0)
    specs = [
        (est.y_pred, "prevalence_cc", F.col("_q"), None, None),
        (est.y_pred, "prevalence_acc", acc, lo, up),
    ]
    return _melt(agg, specs)


def streaming_payload_drift(
    stream: DataFrame,
    chk,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``PayloadDriftCheck``
    (`spark_validate/image/payload.py`) into a streaming query: the Arrow
    decode runs statelessly per micro-batch with the event-time column
    CARRIED through (``decode_pixel_stats(carry=[ts])``), the watermark is
    applied AFTER the decode (``withWatermark`` metadata does not survive a
    ``mapInPandas`` re-projection), and the fitted inner univariate
    calculator compiles through the standard windowed drift path —
    per-window values identical to a batch run over the window's rows."""
    from spark_validate.image.payload import decode_pixel_stats

    if chk._inner is None:
        raise RuntimeError("fit the check on the reference period first")
    stats = decode_pixel_stats(stream, carry=[timestamp_column])
    return streaming_univariate_drift(
        stats,
        chk._inner,
        timestamp_column,
        window_duration=window_duration,
        watermark=watermark,
    )


def streaming_category_shift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``CategoryShiftCalculator``
    (`spark_validate/drift/catshift.py`) into a streaming per-category
    attribution query: one conditional count per fitted category (plus the
    ``__other__`` reference-unseen lump) inside ONE tumbling event-time
    aggregation — bounded at ≤ columns × (max_categories + 1) expressions
    by the fit, no explode, no state beyond the window aggregate. Emits one
    row per (window, column, fitted category) with ref/window shares, the
    signed delta, and the |delta| > threshold alert — per-window shares are
    bit-identical to the batch ``movers`` shares over the window's rows.
    The batch path owns RANKING (top-m needs a window function, unsupported
    on streaming aggregates in append mode) — documented division of
    labor; the alert flag carries the same threshold."""
    if calc._state is None:
        raise RuntimeError("fit the calculator on the reference period first")
    from spark_validate.calculators.base import nan_to_null
    from spark_validate.drift.catshift import OTHER

    src = stream
    if watermark:
        src = src.withWatermark(timestamp_column, watermark)
    dtypes = dict(stream.dtypes)
    aggs, melt = [], []
    for ci, c in enumerate(calc.column_names):
        st = calc._state[c]
        n_ref = max(int(st["n_ref"]), 1)
        v = nan_to_null(F.col(c), dtypes[c]).cast("string")
        cats = sorted(st["counts"])
        aggs.append(F.count(v).alias(f"__n_{ci}"))
        kept = 0
        for vi, cat in enumerate(cats):
            kept += int(st["counts"][cat])
            aggs.append(F.count(F.when(v == F.lit(cat), F.lit(1))).alias(f"__c_{ci}_{vi}"))
            melt.append((c, ci, cat, int(st["counts"][cat]) / n_ref, f"__c_{ci}_{vi}"))
        # __other__: non-null values outside the fitted set
        aggs.append(
            F.count(
                F.when(v.isNotNull() & ~v.isin(list(cats)), F.lit(1))
            ).alias(f"__c_{ci}_other")
        )
        melt.append((c, ci, OTHER, (int(st["n_ref"]) - kept) / n_ref, f"__c_{ci}_other"))
    agg = src.groupBy(F.window(F.col(timestamp_column), window_duration)).agg(*aggs)
    structs = []
    for c, ci, cat, p, cnt_col in melt:
        n = F.col(f"__n_{ci}")
        q = F.when(n > 0, F.col(cnt_col) / n)
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.lit(cat).alias("category"),
                F.lit(float(p)).alias("ref_share"),
                q.cast("double").alias("chunk_share"),
                (q - F.lit(float(p))).cast("double").alias("delta"),
            )
        )
    thr = float(calc.delta_threshold)
    return (
        agg.select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.explode(F.array(*structs)).alias("kv"),
        )
        .select(
            "window_start",
            "window_end",
            "kv.column_name",
            "kv.category",
            "kv.ref_share",
            "kv.chunk_share",
            "kv.delta",
            (F.abs(F.col("kv.delta")) > F.lit(thr)).alias("alert"),
        )
        # batch parity: a chunk whose column is entirely NULL produces no
        # movers rows (no totals row); drop the NULL-share window rows the
        # count expressions would otherwise emit (and their tri-state alert)
        .filter(F.col("chunk_share").isNotNull())
    )


def streaming_bin_shift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``BinShiftCalculator``
    (`spark_validate/drift/binshift.py`) into a streaming per-bin
    attribution query: the fitted equal-width bucket expression becomes a
    narrow pre-aggregation projection, then one conditional count per
    fitted bin (plus the two out-of-range bins) inside ONE tumbling
    event-time aggregation — bounded at ≤ columns × (n_bins + 2)
    expressions, no explode, no state beyond the window aggregate. Emits
    one row per (window, column, bin) with ref/window shares, edges, the
    signed delta, and the |delta| > threshold alert — per-window shares
    are bit-identical to the batch ``movers`` shares over the window's
    rows. The batch path owns RANKING (top-m needs a window function,
    unsupported on streaming aggregates) — same division of labor as
    ``streaming_category_shift``."""
    if calc._state is None:
        raise RuntimeError("fit the calculator on the reference period first")
    from spark_validate.calculators.base import nan_to_null
    from spark_validate.drift.univariate import bucket_expr

    src = stream
    if watermark:
        src = src.withWatermark(timestamp_column, watermark)
    dtypes = dict(stream.dtypes)
    proj, aggs, melt = [], [], []
    for ci, c in enumerate(calc.column_names):
        st = calc._state[c]
        lo, hi, nb = st["lo"], st["hi"], st["n_bins"]
        width = hi - lo
        v = nan_to_null(F.col(c), dtypes[c]).cast("double")
        bcol = f"__b_{ci}"
        proj.append(
            F.when(v.isNull(), F.lit(None)).otherwise(bucket_expr(v, lo, hi, nb)).alias(bcol)
        )
        aggs.append(F.count(F.col(bcol)).alias(f"__n_{ci}"))
        for b in range(-1, nb + 1):
            aggs.append(
                F.count(F.when(F.col(bcol) == F.lit(b), F.lit(1))).alias(f"__c_{ci}_{b + 1}")
            )
            if b == -1:
                p, b_lo, b_hi = 0.0, None, lo
            elif b == nb:
                p, b_lo, b_hi = 0.0, hi, None
            else:
                p = st["probs"][b]
                b_lo, b_hi = lo + (width * b) / nb, lo + (width * (b + 1)) / nb
            melt.append((c, ci, b, b_lo, b_hi, p, f"__c_{ci}_{b + 1}"))
    agg = src.select(timestamp_column, *proj).groupBy(
        F.window(F.col(timestamp_column), window_duration)
    ).agg(*aggs)
    structs = []
    for c, ci, b, b_lo, b_hi, p, cnt_col in melt:
        n = F.col(f"__n_{ci}")
        q = F.when(n > 0, F.col(cnt_col) / n)
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.lit(b).alias("bucket"),
                F.lit(b_lo).cast("double").alias("bin_lo"),
                F.lit(b_hi).cast("double").alias("bin_hi"),
                F.lit(float(p)).alias("ref_share"),
                q.cast("double").alias("chunk_share"),
                (q - F.lit(float(p))).cast("double").alias("delta"),
            )
        )
    thr = float(calc.delta_threshold)
    return (
        agg.select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.explode(F.array(*structs)).alias("kv"),
        )
        .select(
            "window_start",
            "window_end",
            "kv.column_name",
            "kv.bucket",
            "kv.bin_lo",
            "kv.bin_hi",
            "kv.ref_share",
            "kv.chunk_share",
            "kv.delta",
            (F.abs(F.col("kv.delta")) > F.lit(thr)).alias("alert"),
        )
        # batch parity: an all-NULL window produces no movers rows
        .filter(F.col("chunk_share").isNotNull())
    )


def streaming_mmd_drift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``MMDDriftCalculator``
    (`spark_validate/drift/mmd.py`) into a streaming kernel two-sample
    query: the K seeded RFF feature expressions become decimal-summed
    conditional aggregates inside ONE tumbling event-time aggregation, and
    the per-window MMD² is the same k-ascending chain as batch — windows
    covering the same rows as a batch chunk produce bit-identical values
    and alerts.  State is the window aggregate only (K sums + a count)."""
    if calc._state is None:
        raise RuntimeError("fit the calculator on the reference period first")
    src = stream
    if watermark:
        src = src.withWatermark(timestamp_column, watermark)
    agg = src.groupBy(F.window(F.col(timestamp_column), window_duration)).agg(
        *calc._sum_aggs()
    )
    thr = float(calc.mmd_threshold)
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.lit(calc.column_name).alias("column_name"),
        calc._mmd_expr().cast("double").alias("mmd"),
    ).withColumn(
        "alert", F.coalesce(F.col("mmd") > F.lit(thr), F.lit(False))
    ).filter(F.col("mmd").isNotNull())


def streaming_calibration_drift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``CalibrationDriftCalculator``
    (`spark_validate/performance/calib_drift.py`) into a streaming
    reliability monitor: the 3 × bin_count conditional sums run inside ONE
    tumbling event-time aggregation and the per-window ECE is the same
    bin-ascending chain as batch — a window covering the same rows as a
    batch chunk emits the identical ``ece`` value and alert, plus the
    ``ece_delta`` against the fitted reference ECE.  Windows with no valid
    (label, score) rows emit nothing."""
    if calc._state is None:
        raise RuntimeError("fit the calculator on the reference period first")
    src = stream
    if watermark:
        src = src.withWatermark(timestamp_column, watermark)
    agg = src.groupBy(F.window(F.col(timestamp_column), window_duration)).agg(
        *calc._aggs()
    )
    _, ece = calc._ece_expr()
    thr = float(calc.ece_threshold)
    return (
        agg.select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.lit(f"{calc.y_pred_proba}|{calc.y_true}").alias("column_name"),
            ece.cast("double").alias("ece"),
        )
        .withColumn("ece_delta", F.col("ece") - F.lit(float(calc._state["ece"])))
        .withColumn("alert", F.coalesce(F.col("ece") > F.lit(thr), F.lit(False)))
        .filter(F.col("ece").isNotNull())
    )


def streaming_grouped_drift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``GroupedDriftCalculator``
    (`spark_validate/drift/grouped.py`) into a streaming drift query: the
    batch check is a ``value@group`` column derivation over the ordinary
    multi-column univariate calculator, so the streaming form derives the
    SAME columns on the stream (a stateless projection) and hands the
    fitted inner calculator to :func:`streaming_univariate_drift` — one
    windowed aggregation for all groups, per-window values bit-identical
    to a batch run over the window's rows."""
    if calc._calc is None:
        raise RuntimeError("fit the calculator on the reference period first")
    return streaming_univariate_drift(
        calc._derived(stream),
        calc._calc,
        timestamp_column,
        window_duration=window_duration,
        watermark=watermark,
    )


def streaming_joint_drift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``JointHistogramDrift``
    (`spark_validate/drift/joint.py`) into a streaming drift query: the
    batch check is one pivoted 2-D width_bucket-cell-count aggregation plus
    a JS/PSI projection over fitted constants, so the streaming form swaps
    the chunk groupBy for a tumbling event-time window and reuses the SAME
    count expressions and value column — bit-identical per-window values to
    a batch run over the window's rows (the empty-window NULL guard lives
    inside ``_value_col``)."""
    if calc._state is None:
        raise RuntimeError("fit the check on the reference period first")
    src = stream
    if watermark:
        src = src.withWatermark(timestamp_column, watermark)
    agg = src.groupBy(F.window(F.col(timestamp_column), window_duration)).agg(
        *calc._count_exprs("")
    )
    specs = [
        (
            f"{calc.col_x}+{calc.col_y}",
            f"joint_{calc.method}",
            calc._value_col(""),
            None,
            calc.upper_threshold,
        )
    ]
    return _melt(agg, specs)


def streaming_embedding_drift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``EmbeddingDriftCalculator``
    (`spark_validate/drift/embedding.py`) into a streaming drift query:
    a tumbling event-time window is exactly a chunk, so the centroid-cosine /
    mean-shift-L∞ / norm-JS metrics stream out of ONE windowed aggregation —
    the fitted per-dim means/stds and norm-histogram probabilities are plan
    constants, and the metric projections are the calculator's own
    ``_metric_exprs`` (bit-identical formulas to the batch path)."""
    if calc._fitted is None:
        raise RuntimeError("fit the calculator on the reference period first")
    st = calc._fitted
    src = stream.withWatermark(timestamp_column, watermark or window_duration)
    # same pre-aggregation projection as the batch path (_project): the
    # windowed hash aggregate consumes plain columns, staying under the JVM
    # 64 KB codegen limit instead of inlining the dim-term norm per aggregate
    src = calc._project(src, [timestamp_column], st["norm_lo"], st["norm_hi"])
    agg = src.groupBy(F.window(F.col(timestamp_column), window_duration)).agg(
        *calc._mean_aggs(), *calc._hist_aggs()
    )
    thr = st.get("thresholds") or {}
    specs = []
    for method, value in calc._metric_exprs():
        lo, up = thr.get((calc.embedding_col, method), (None, None))
        specs.append((calc.embedding_col, method, value, lo, up))
    return _melt(agg, specs)


def streaming_correlation_drift(
    stream: DataFrame,
    calc,
    timestamp_column: str,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Compile a fitted ``CorrelationDriftCalculator``
    (`spark_validate/drift/correlation.py`) into a streaming drift query:
    the batch check is one aggregation of per-pair decimal sums plus a
    corr/shift projection over fitted constants, so the streaming form
    swaps the chunk groupBy for a tumbling event-time window and reuses the
    SAME sum expressions and value columns — per-window values bit-identical
    to a batch run over the window's rows (decimal sums are
    order-independent, the derivation is plain IEEE doubles)."""
    from spark_validate.drift.correlation import _pair_key

    if calc._ref is None:
        raise RuntimeError("fit the check on the reference period first")
    src = stream
    if watermark:
        src = src.withWatermark(timestamp_column, watermark)
    dtypes = dict(stream.dtypes)
    agg = src.groupBy(F.window(F.col(timestamp_column), window_duration)).agg(
        *calc._sum_exprs(dtypes, "")
    )
    m_corr, m_shift = calc._methods
    specs = []
    for x, y in calc.pairs:
        k = _pair_key(x, y)
        corr = calc._corr_col("", k)
        ref = calc._ref[k]
        shift = (
            F.abs(corr - F.lit(float(ref))) if ref is not None
            else F.lit(None).cast("double")
        )
        specs.append((k, m_corr, corr, None, None))
        specs.append((k, m_shift, shift, None, calc.upper_threshold))
    return _melt(agg, specs)
