"""Alert thresholds (reference `nannyml/thresholds.py:74-291`).

A threshold turns the reference period's per-chunk metric values into
(lower, upper) alert bounds. Four types; ``None`` disables a side in each:

* ``ConstantThreshold`` — fixed bounds (`thresholds.py:74-130`).
* ``StandardDeviationThreshold`` — ``mean ± k·std_pop`` (`thresholds.py:133-189`;
  numpy ``nanstd`` is population std, ddof=0).
* ``MedianAbsoluteDeviationThreshold`` — ``median ± k·1.4826·MAD``.
* ``QuantileThreshold`` — exact reference quantiles.

:func:`fit_thresholds` is the one way a threshold is fitted and clamped: a
metric-of-metrics, i.e. one grouped aggregate over the (tiny) per-chunk
reference result table, collected once, with the bounds clamped on the driver
to each metric's theoretical limits (`thresholds.py:226-291`), e.g. rates to
[0, 1]. :func:`fit_thresholds_grouped` is its per-type aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ConstantThreshold:
    lower: Optional[float] = None
    upper: Optional[float] = None

    def __post_init__(self):
        if self.lower is not None and self.upper is not None and self.lower >= self.upper:
            raise ValueError(f"lower ({self.lower}) must be < upper ({self.upper})")


@dataclass(frozen=True)
class StandardDeviationThreshold:
    """mean ± multiplier·std over reference per-chunk values.

    ``None`` multiplier disables that side (the reference's drift default is
    ``std_lower_multiplier=None`` — upper-only alerts,
    `nannyml/drift/univariate/calculator.py:48-55`).
    """

    std_lower_multiplier: Optional[float] = 3.0
    std_upper_multiplier: Optional[float] = 3.0
    offset_fn: str = "mean"  # only nanmean in the reference


@dataclass(frozen=True)
class MedianAbsoluteDeviationThreshold:
    """Robust band: ``median ± k · 1.4826 · MAD`` over reference per-chunk
    values (1.4826 scales MAD to sigma for normal data — Hampel's
    consistency constant). Heavy-tailed metric series drag mean AND std,
    so the StandardDeviation band inflates around its own outliers; the
    MAD band does not (50% breakdown point vs 0%). No reference analog
    (NannyML ships constant + stddev, `nannyml/thresholds.py`); semantics
    follow standard robust-statistics practice. Exact percentiles — the
    fit runs over the ≤#chunks metric series, never the data."""

    mad_lower_multiplier: Optional[float] = 3.0
    mad_upper_multiplier: Optional[float] = 3.0


@dataclass(frozen=True)
class QuantileThreshold:
    """Empirical-quantile band: bounds = exact reference quantiles
    (Evidently's quantile test surface). Distribution-free — the band is
    whatever the reference series actually did, so a 5%/95% band alerts
    on anything outside the reference's own 90% central mass. ``None``
    disables a side."""

    q_lower: Optional[float] = 0.05
    q_upper: Optional[float] = 0.95

    def __post_init__(self):
        for q in (self.q_lower, self.q_upper):
            if q is not None and not 0.0 <= q <= 1.0:
                raise ValueError(f"quantile must be in [0, 1], got {q}")


def fit_thresholds_grouped(
    values_df: DataFrame,
    group_cols: list,
    threshold,
    value_col: str = "value",
) -> DataFrame:
    """Vectorized threshold fit: one (lower, upper) row per group in a single
    aggregate over the per-chunk reference result table (no group columns:
    one global row).

    Avoids a driver loop per column×method — at wide schemas (hundreds of
    monitored columns) the fit stays one Spark job. Every fitted type casts
    the value to double first: a decimal series would otherwise make the
    median-centred deviation decimal arithmetic.
    """
    grouped = values_df.groupBy(*group_cols)
    if isinstance(threshold, ConstantThreshold):
        return grouped.agg(
            F.lit(threshold.lower).cast("double").alias("lower_threshold"),
            F.lit(threshold.upper).cast("double").alias("upper_threshold"),
        )
    v = F.col(value_col).cast("double")
    if isinstance(threshold, StandardDeviationThreshold):
        lo_mult = threshold.std_lower_multiplier
        up_mult = threshold.std_upper_multiplier
        # mean and population variance add the values in sorted order, not
        # in the order the partial aggregates merge, so the band is the same
        # bits under any partitioning. NULLs are skipped, a NaN propagates,
        # one value gives σ = 0 and no value NULL bounds.
        n = F.size("_v")
        total = F.aggregate("_v", F.lit(0.0), lambda acc, x: acc + x)
        sq_dev = F.aggregate("_v", F.lit(0.0), lambda acc, x: acc + (x - F.col("_m")) * (x - F.col("_m")))
        agg = (
            grouped.agg(F.array_sort(F.collect_list(v)).alias("_v"))
            .withColumn("_m", F.when(n > 0, total / n))
            .withColumn("_s", F.when(n > 0, F.sqrt(sq_dev / n)))
        )
        lower = (F.col("_m") - F.lit(lo_mult) * F.col("_s")) if lo_mult is not None else F.lit(None)
        upper = (F.col("_m") + F.lit(up_mult) * F.col("_s")) if up_mult is not None else F.lit(None)
    elif isinstance(threshold, QuantileThreshold):
        lo_q, up_q = threshold.q_lower, threshold.q_upper
        agg = grouped.agg(
            (F.percentile(v, F.lit(float(lo_q))) if lo_q is not None else F.lit(None)).alias("_lo"),
            (F.percentile(v, F.lit(float(up_q))) if up_q is not None else F.lit(None)).alias("_up"),
        )
        lower, upper = F.col("_lo"), F.col("_up")
    elif isinstance(threshold, MedianAbsoluteDeviationThreshold):
        med = grouped.agg(F.percentile(v, F.lit(0.5)).alias("_med"))
        with_med = values_df.join(med, list(group_cols)) if group_cols else values_df.crossJoin(med)
        agg = with_med.groupBy(*group_cols).agg(
            F.percentile(F.abs(v - F.col("_med")), F.lit(0.5)).alias("_mad"),
            F.first("_med").alias("_m"),
        )
        lo_mult, up_mult = threshold.mad_lower_multiplier, threshold.mad_upper_multiplier
        scale = F.lit(1.4826) * F.col("_mad")
        lower = (F.col("_m") - F.lit(lo_mult) * scale) if lo_mult is not None else F.lit(None)
        upper = (F.col("_m") + F.lit(up_mult) * scale) if up_mult is not None else F.lit(None)
    else:
        raise TypeError(f"unknown threshold type {type(threshold)!r}")
    return agg.select(
        *group_cols,
        lower.cast("double").alias("lower_threshold"),
        upper.cast("double").alias("upper_threshold"),
    )


Bounds = Tuple[Optional[float], Optional[float]]


def fit_thresholds(
    values_df: DataFrame,
    key_cols: Sequence[str],
    threshold,
    limits=(None, None),
    clamp_constant: bool = True,
    default=None,
    value_col: str = "value",
) -> Dict[object, Bounds]:
    """Fit ``threshold`` on the reference period's per-chunk values
    (``values_df``: ``key_cols`` + ``value_col``) and clamp the bounds to the
    metric's limits. Returns ``{key: (lower, upper)}``, keyed by the key
    column's value (one key column) or else by the tuple of key values.

    ``threshold`` is one threshold for every key, or a ``{method: threshold}``
    dict over the ``method`` key column with ``default`` for the methods it
    does not name. Each distinct fitted threshold aggregates the rows of its
    own methods, the default's aggregate takes every other row, and the
    aggregates are unioned and collected in one SQL execution. A key under a
    ``ConstantThreshold`` takes the constant's bounds; with no key columns a
    constant needs no query at all.

    ``limits`` is a ``(lower, upper)`` pair for every key or a ``{method:
    (lower, upper)}`` dict (`nannyml/thresholds.py:226-291`). The lower bound
    is clamped with ``max``, the upper with ``min``; a ``None`` bound or limit
    is left alone, so a disabled side stays disabled.
    ``clamp_constant=False`` keeps a ``ConstantThreshold``'s bounds as given.
    """
    if isinstance(threshold, dict):
        by_method = threshold
    else:
        by_method, default = {}, threshold
    fitted: Dict[object, list] = {}
    for method, thr in by_method.items():
        if thr != default and not isinstance(thr, ConstantThreshold):
            fitted.setdefault(thr, []).append(method)
    named = [m for methods in fitted.values() for m in methods]
    branches = [
        fit_thresholds_grouped(values_df.filter(F.col("method").isin(methods)), key_cols, thr, value_col)
        for thr, methods in fitted.items()
    ]
    rest = values_df.filter(~F.col("method").isin(named)) if named else values_df
    branches.append(fit_thresholds_grouped(rest, key_cols, default, value_col))

    def clamp(method, lo, up) -> Bounds:
        thr = by_method.get(method, default)
        if isinstance(thr, ConstantThreshold):
            lo, up = (None if b is None else float(b) for b in (thr.lower, thr.upper))
            if not clamp_constant:
                return lo, up
        lo_l, up_l = limits.get(method, (None, None)) if isinstance(limits, dict) else limits
        if lo is not None and lo_l is not None:
            lo = max(lo, lo_l)
        if up is not None and up_l is not None:
            up = min(up, up_l)
        return lo, up

    if not key_cols and isinstance(default, ConstantThreshold):
        return {(): clamp(None, None, None)}
    out = {}
    for r in reduce(DataFrame.unionByName, branches).collect():
        key = tuple(r[c] for c in key_cols)
        method = r["method"] if "method" in key_cols else None
        out[key[0] if len(key) == 1 else key] = clamp(method, r["lower_threshold"], r["upper_threshold"])
    return out


def alert_expr(value_col: str = "value"):
    """alert = value outside [lower, upper]; NULL-safe: a missing bound never
    alerts on that side; NULL value → no alert
    (`nannyml/drift/univariate/methods.py:147-157`)."""
    v = F.col(value_col)
    below = F.col("lower_threshold").isNotNull() & (v < F.col("lower_threshold"))
    above = F.col("upper_threshold").isNotNull() & (v > F.col("upper_threshold"))
    return F.when(v.isNull(), F.lit(False)).otherwise(F.coalesce(below | above, F.lit(False)))


def with_debounced_alerts(
    result: DataFrame,
    k: int = 2,
    alert_col: str = "alert",
    out_col: str = "confirmed_alert",
) -> DataFrame:
    """k-consecutive alert confirmation on a chunked result series: adds
    ``alert_streak`` (length of the current consecutive-alert run ending at
    this chunk) and ``<out_col>`` = streak ≥ k, per (column_name × method)
    ordered by ``chunk_index``. The standard page-the-human debounce: one
    noisy chunk brushing a threshold stays visible in ``alert`` but only a
    SUSTAINED breach pages (public monitoring stacks ship this as
    "for: <duration>" / consecutive-breach conditions, e.g. Prometheus
    alerting rules and CloudWatch datapoints-to-alarm).

    Pure window arithmetic over the already-aggregated result frame — the
    streak is the run-length classic: chunk_row_number minus a second
    row_number over alert-only rows groups each run, windowed per
    (column_name, method) so no global sort. NULL alerts break a streak
    (an unevaluated chunk is not evidence of a sustained breach).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy("column_name", "method").orderBy("chunk_index")
    a = F.coalesce(F.col(alert_col).cast("boolean"), F.lit(False))
    rn = F.row_number().over(w)
    # streak = rows since the most recent NON-alert row: rn − max(rn over
    # non-alert rows so far), with 0 standing in for "no break yet".
    # Explicit ROWS frame (running-max gotcha: the default RANGE frame keys
    # on the ORDER BY value, not the row)
    run_w = (
        Window.partitionBy("column_name", "method")
        .orderBy("chunk_index")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        result.withColumn("_sv_a", a)
        .withColumn("_sv_rn", rn)
        .withColumn(
            "_sv_break",
            F.max(F.when(~F.col("_sv_a"), F.col("_sv_rn"))).over(run_w),
        )
        .withColumn(
            "alert_streak",
            F.when(
                F.col("_sv_a"), F.col("_sv_rn") - F.coalesce(F.col("_sv_break"), F.lit(0))
            ).otherwise(F.lit(0)),
        )
        .withColumn(out_col, F.col("alert_streak") >= F.lit(int(k)))
        .drop("_sv_a", "_sv_rn", "_sv_break")
    )
    return out


def with_jump_alerts(
    result: DataFrame,
    max_rel_change: float,
    value_col: str = "value",
    min_abs_prev: float = 1e-12,
) -> DataFrame:
    """Rate-of-change anomaly on a chunked result series: adds ``prev_value``,
    ``rel_change`` and ``jump_alert`` per (column_name × method) ordered by
    ``chunk_index`` — the between-consecutive-chunks jump detector static
    constant/std thresholds can't express (a metric can drift violently
    while staying inside its fitted band; public monitoring stacks ship this
    as "relative rate of change" anomaly checks, e.g. Deequ's
    RelativeRateOfChangeStrategy).

    Pure window arithmetic over the ALREADY-AGGREGATED result frame
    (≤ chunks × columns × methods rows) — the window partitions by
    (column_name, method), so no single-partition global sort appears even
    on wide suites. First chunk of each series and |previous| below
    ``min_abs_prev`` (sign flips around zero would make the ratio
    meaningless) never alert.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("column_name", "method").orderBy("chunk_index")
    prev = F.lag(value_col).over(w)
    rel = F.when(
        prev.isNotNull() & (F.abs(prev) >= F.lit(float(min_abs_prev))),
        F.abs(F.col(value_col) - prev) / F.abs(prev),
    )
    return (
        result.withColumn("prev_value", prev)
        .withColumn("rel_change", rel)
        .withColumn(
            "jump_alert",
            F.coalesce(F.col("rel_change") > F.lit(float(max_rel_change)), F.lit(False)),
        )
    )


def with_ewma_alerts(
    result: DataFrame,
    alpha: float = 0.2,
    L: float = 3.0,
    baseline: Optional[DataFrame] = None,
    value_col: str = "value",
) -> DataFrame:
    """EWMA control chart over a chunked result series (Roberts 1959; the
    NIST/Montgomery construction): adds ``ewma`` (the smoothed series,
    seeded at the baseline mean), ``ewma_lower`` / ``ewma_upper`` (the
    time-ramped control limits ``mu ± L·sigma·sqrt(alpha/(2−alpha)·
    (1−(1−alpha)^{2t}))``) and ``ewma_alert`` per (column_name × method)
    ordered by ``chunk_index``.

    Complements the static fitted band and the debounce: a static threshold
    needs ONE chunk to stray far; the EWMA accumulates evidence, so a small
    persistent shift (each chunk individually in-band) still crosses the
    chart limits — the textbook small-shift detector (~0.5–1σ shifts where
    Shewhart charts are blind).

    ``baseline`` is a per-series (column_name, method, mu, sigma) frame; if
    omitted it is fitted from the frame's own ``period == 'reference'``
    rows (mean + population std of the per-chunk values — the
    StandardDeviationThreshold convention) and only analysis rows are
    smoothed (reference rows pass through with NULL ewma columns).

    Execution shape: the input is the ALREADY-AGGREGATED result frame
    (≤ chunks × series rows). The recurrence folds a running
    ``collect_list`` window with ``F.aggregate`` — exact, overflow-free
    (contrast the closed-form ``(1−alpha)^{−i}`` rewrite, which overflows
    past ~700 chunks), per-series state bounded by the chunk count, and the
    window partitions per series so no global single-partition sort
    appears. NULL metric values are skipped by collect_list — the chart
    holds its last state rather than fabricating an update — and do not
    advance ``t``.
    """
    from pyspark.sql import Window

    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    series = ["column_name", "method"]
    if baseline is None:
        if "period" not in result.columns:
            raise ValueError("no baseline frame and no period column to fit one from")
        ref = result.filter(F.col("period") == "reference")
        baseline = ref.groupBy(*series).agg(
            F.avg(value_col).alias("mu"), F.stddev_pop(value_col).alias("sigma")
        )
        smooth_only_analysis = True
    else:
        smooth_only_analysis = False

    r = 1.0 - float(alpha)  # python-computed literals: identical doubles
    c = float(alpha) / (2.0 - float(alpha))  # in any mirroring oracle SQL

    w = (
        Window.partitionBy(*series)
        .orderBy("chunk_index")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = result.join(F.broadcast(baseline), series, "left")
    scope = (
        (F.col("period") == "analysis") if smooth_only_analysis else F.lit(True)
    )
    vals = F.collect_list(F.when(scope, F.col(value_col))).over(w)
    t = F.size(vals)
    ewma = F.when(
        scope & F.col("mu").isNotNull() & (t > 0),
        F.aggregate(
            vals,
            F.col("mu").cast("double"),
            lambda acc, x: F.lit(float(alpha)) * x + F.lit(r) * acc,
        ),
    )
    half = F.lit(L) * F.col("sigma") * F.sqrt(
        F.lit(c) * (F.lit(1.0) - F.pow(F.lit(r), (F.lit(2) * t).cast("double")))
    )
    lower = F.when(scope & (t > 0), F.col("mu") - half)
    upper = F.when(scope & (t > 0), F.col("mu") + half)
    out = (
        out.withColumn("ewma", ewma.cast("double"))
        .withColumn("ewma_lower", lower.cast("double"))
        .withColumn("ewma_upper", upper.cast("double"))
    )
    breach = (F.col("ewma") < F.col("ewma_lower")) | (F.col("ewma") > F.col("ewma_upper"))
    return out.withColumn(
        "ewma_alert",
        F.when(F.col("ewma").isNull(), F.lit(False)).otherwise(
            F.coalesce(breach, F.lit(False))
        ),
    ).drop("mu", "sigma")


def with_cusum_alerts(
    result: DataFrame,
    k: float = 0.5,
    h: float = 4.0,
    baseline: Optional[DataFrame] = None,
    value_col: str = "value",
) -> DataFrame:
    """Tabular CUSUM chart over a chunked result series (Page 1954; the
    NIST/Montgomery two-sided construction): adds ``cusum_pos`` /
    ``cusum_neg`` (the one-sided cumulative sums
    ``C⁺ = max(0, C⁺ + (x − (mu + k·sigma)))`` and
    ``C⁻ = max(0, C⁻ + ((mu − k·sigma) − x))``), ``cusum_limit``
    (``h·sigma``) and ``cusum_alert`` per (column_name × method) ordered by
    ``chunk_index``.

    The CUSUM is the change-POINT complement to the EWMA chart: both catch
    small persistent shifts a static band misses, but the CUSUM's sum
    resets to zero whenever the process is on target, so the first chunk
    where ``C±`` leaves zero localizes WHEN the shift started, and the
    slack ``k·sigma`` (half the shift one tunes to detect) makes it
    optimal for a step change of ~2k·sigma (SPRT equivalence). Defaults
    k=0.5, h=4 are the textbook small-shift setting.

    ``baseline`` follows :func:`with_ewma_alerts`: a per-series
    (column_name, method, mu, sigma) frame, fitted from the frame's own
    ``period == 'reference'`` rows when omitted. Degenerate sigma (NULL or
    0 — a constant reference) yields NULL sums and no alert rather than a
    hair-trigger zero-slack chart. NULL metric values are skipped by the
    fold (state holds, ``t`` does not advance).

    Execution shape: identical to the EWMA chart — the input is the
    already-aggregated result frame, the recurrence is two scalar
    ``F.aggregate`` left folds over a running ``collect_list`` window
    partitioned per series. Pure add/max arithmetic, so the sums are
    bit-identical in any engine executing the same fold order (DuckDB:
    ``list_reduce(list_prepend(0.0, l), ...)``).
    """
    from pyspark.sql import Window

    if k < 0 or h <= 0:
        raise ValueError(f"need k >= 0 and h > 0, got k={k}, h={h}")
    series = ["column_name", "method"]
    if baseline is None:
        if "period" not in result.columns:
            raise ValueError("no baseline frame and no period column to fit one from")
        ref = result.filter(F.col("period") == "reference")
        baseline = ref.groupBy(*series).agg(
            F.avg(value_col).alias("mu"), F.stddev_pop(value_col).alias("sigma")
        )
        scope_analysis = True
    else:
        scope_analysis = False

    w = (
        Window.partitionBy(*series)
        .orderBy("chunk_index")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = result.join(F.broadcast(baseline), series, "left")
    scope = (
        (F.col("period") == "analysis") if scope_analysis else F.lit(True)
    )
    valid = F.col("mu").isNotNull() & F.col("sigma").isNotNull() & (F.col("sigma") > 0)
    vals = F.collect_list(F.when(scope, F.col(value_col))).over(w)
    live = scope & valid & (F.size(vals) > 0)
    kf = F.lit(float(k))
    pos = F.when(
        live,
        F.aggregate(
            vals,
            F.lit(0.0),
            lambda acc, x: F.greatest(
                F.lit(0.0), acc + (x - (F.col("mu") + kf * F.col("sigma")))
            ),
        ),
    )
    neg = F.when(
        live,
        F.aggregate(
            vals,
            F.lit(0.0),
            lambda acc, x: F.greatest(
                F.lit(0.0), acc + ((F.col("mu") - kf * F.col("sigma")) - x)
            ),
        ),
    )
    limit = F.when(live, F.lit(float(h)) * F.col("sigma"))
    out = (
        out.withColumn("cusum_pos", pos.cast("double"))
        .withColumn("cusum_neg", neg.cast("double"))
        .withColumn("cusum_limit", limit.cast("double"))
    )
    breach = (F.col("cusum_pos") > F.col("cusum_limit")) | (
        F.col("cusum_neg") > F.col("cusum_limit")
    )
    return out.withColumn(
        "cusum_alert",
        F.when(F.col("cusum_pos").isNull(), F.lit(False)).otherwise(
            F.coalesce(breach, F.lit(False))
        ),
    ).drop("mu", "sigma")


def with_seasonal_alerts(
    result: DataFrame,
    period: int = 7,
    k: float = 3.0,
    min_history: int = 3,
    value_col: str = "value",
    phase_col: Optional[str] = None,
) -> DataFrame:
    """Seasonality-aware alerting over a chunked result series: each chunk
    is compared to the history of its OWN PHASE (same weekday, same
    hour-of-day, same position in any length-``period`` cycle) instead of
    the whole series. Daily/weekly cycles make static bands either deaf
    (band wide enough for the weekend dip swallows real shifts) or noisy
    (band fit to weekdays pages every Saturday); the classic fix —
    Prometheus recording-rule seasonal baselines, RRDtool's Holt-Winters
    aberrant-behavior branch — is a per-phase mu ± k·sigma band.

    Adds per row: ``phase`` (``chunk_index % period``, or the value of
    ``phase_col`` when given — e.g. a precomputed ``dayofweek(start_ts)``),
    ``seasonal_mean`` / ``seasonal_std`` (over STRICTLY PRECEDING
    same-phase rows — the current value never judges itself),
    ``seasonal_n`` (that history's size), ``seasonal_lower`` /
    ``seasonal_upper`` and ``seasonal_alert``. Rows with fewer than
    ``min_history`` same-phase predecessors, a NULL value, or a degenerate
    (zero/NULL) std never alert — a cold-start phase stays quiet rather
    than paging on its second observation.

    Execution shape: input is the ALREADY-AGGREGATED result frame
    (≤ chunks × series rows); the window partitions by
    (column_name, method, phase) and orders by chunk_index with an
    explicit ROWS frame — per-series driver-scale arithmetic, no pass
    over the data and no global single-partition sort.
    """
    from pyspark.sql import Window

    if period < 1:
        raise ValueError(f"period must be >= 1, got {period}")
    series = ["column_name", "method"]
    phase = (
        F.col(phase_col)
        if phase_col
        else (F.col("chunk_index") % F.lit(int(period))).cast("int")
    )
    out = result.withColumn("phase", phase)
    w = (
        Window.partitionBy(*series, "phase")
        .orderBy("chunk_index")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    v = F.col(value_col)
    out = (
        out.withColumn("seasonal_mean", F.avg(v).over(w))
        .withColumn("seasonal_std", F.stddev_pop(v).over(w))
        .withColumn("seasonal_n", F.count(v).over(w))
    )
    lo = F.col("seasonal_mean") - F.lit(float(k)) * F.col("seasonal_std")
    hi = F.col("seasonal_mean") + F.lit(float(k)) * F.col("seasonal_std")
    ok_history = (
        (F.col("seasonal_n") >= F.lit(int(min_history)))
        & F.col("seasonal_std").isNotNull()
        & (F.col("seasonal_std") > 0)
    )
    return (
        out.withColumn("seasonal_lower", F.when(ok_history, lo))
        .withColumn("seasonal_upper", F.when(ok_history, hi))
        .withColumn(
            "seasonal_alert",
            F.coalesce(
                ok_history & v.isNotNull() & ((v < lo) | (v > hi)), F.lit(False)
            ),
        )
    )
