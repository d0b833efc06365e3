"""Rankers — post-processing over long result tables (reference §2.10,
`nannyml/drift/ranker.py:118-403`).

* AlertCountRanker: alerts summed per column across chunks, ranked desc
  (ties broken by column name desc, matching `ranker.py:186-191`).
* CorrelationRanker: Pearson correlation between each column's drift values
  and the absolute performance change from the reference mean
  (`ranker.py:197-403`) — a single ``corr`` aggregate per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_validate.functions.local import local_frame


def _none_if_nan(v):
    import math

    return None if v is None or (isinstance(v, float) and math.isnan(v)) else float(v)


def alert_count_rank(result: DataFrame, only_drifting: bool = False) -> DataFrame:
    """(rank, n_alerts, column_name) — 1-based, most alerts first."""
    agg = result.groupBy("column_name").agg(
        F.sum(F.col("alert").cast("int")).alias("n_alerts")
    )
    if only_drifting:
        agg = agg.filter(F.col("n_alerts") > 0)
    w = Window.orderBy(F.desc("n_alerts"), F.desc("column_name"))  # single task: input ≤ #columns rows
    return agg.withColumn("rank", F.row_number().over(w)).select("rank", "n_alerts", "column_name")


class CorrelationRanker:
    """fit on reference performance results → rank drift columns by |Δperf| correlation."""

    def __init__(self):
        self._mean_ref_perf = None

    def fit(self, reference_performance: DataFrame, metric: str) -> "CorrelationRanker":
        self._metric = metric
        self._mean_ref_perf = (
            reference_performance.filter(F.col("method") == metric).agg(F.avg("value")).first()[0]
        )
        return self

    def rank(self, drift_result: DataFrame, performance_result: DataFrame, only_drifting: bool = False) -> DataFrame:
        if self._mean_ref_perf is None:
            raise RuntimeError("fit first")
        perf = performance_result.filter(F.col("method") == self._metric).select(
            "chunk_key", F.abs(F.col("value") - F.lit(self._mean_ref_perf)).alias("_perf_change")
        )
        joined = drift_result.select("chunk_key", "column_name", "value", "alert").join(perf, "chunk_key")
        # PAIRWISE deletion first: the independent moments below each skip
        # NULLs on their own, so a null in one series would draw the x- and
        # y-moments from different row sets and bias the correlation
        # (F.corr/scipy delete pairwise)
        joined = joined.filter(F.col("value").isNotNull() & F.col("_perf_change").isNotNull())
        # null-safe Pearson from population moments: Spark's corr aggregate
        # throws DIVIDE_BY_ZERO under ANSI when either series is constant
        # (zero variance); here that yields NULL and the column ranks last —
        # matching scipy's nan for a constant input in the reference.
        x, y = F.col("value"), F.col("_perf_change")
        num = F.avg(x * y) - F.avg(x) * F.avg(y)
        den = F.stddev_pop(x) * F.stddev_pop(y)
        agg = joined.groupBy("column_name").agg(
            F.when(den != 0, num / den).alias("pearsonr_correlation"),
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("alert").cast("int")).alias("n_alerts"),
        )
        if only_drifting:
            agg = agg.filter(F.col("n_alerts") > 0)
        # p-values (ref ranker.py:376-391 scipy.stats.pearsonr): the agg is
        # ≤ #columns rows, so the t-distribution SF runs driver-side on the
        # collected result — no Python UDF enters any distributed plan
        from spark_validate.functions.mathstats import pearsonr_pvalue

        rows = agg.collect()
        spark = drift_result.sparkSession
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("column_name", agg.schema["column_name"].dataType),
                T.StructField("pearsonr_correlation", T.DoubleType()),
                T.StructField("pearsonr_pvalue", T.DoubleType()),
                T.StructField("has_drifted", T.BooleanType()),
                T.StructField("n_alerts", T.LongType()),
            ]
        )
        out = local_frame(
            spark,
            [
                (
                    r["column_name"],
                    float(r["pearsonr_correlation"]) if r["pearsonr_correlation"] is not None else None,
                    _none_if_nan(pearsonr_pvalue(r["pearsonr_correlation"], r["_n"])),
                    bool(r["n_alerts"] > 0) if r["n_alerts"] is not None else False,
                    int(r["n_alerts"]) if r["n_alerts"] is not None else 0,
                )
                for r in rows
            ],
            schema,
        )
        w = Window.orderBy(
            F.desc("pearsonr_correlation"), F.desc("column_name")
        )  # single task: input ≤ #columns rows
        return out.withColumn("rank", F.row_number().over(w)).select(
            "rank", "column_name", "pearsonr_correlation", "pearsonr_pvalue", "has_drifted", "n_alerts"
        )
