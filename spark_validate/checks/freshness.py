"""Freshness / temporal-completeness check — is the data arriving, on time,
without holes?

The reference validates VALUES; production table monitoring starts one level
earlier: did the partition land at all, how stale is it, and does its time
axis have outage holes (the Monte-Carlo/Great-Expectations "freshness" and
"volume" monitor family — surface NannyML lacks, expressed here in its
chunk/threshold vocabulary). Four per-chunk metrics over one timestamp
column:

* ``staleness_seconds`` — ``as_of − max(ts)``: how far behind the high
  watermark the chunk's newest row is. ``as_of`` defaults to the frame's
  own global max timestamp (one 1-row aggregate, collected driver-side), so
  the newest chunk reads 0 and older period chunks read their age; pass an
  explicit ``as_of`` (the run's wall-clock, a scheduler tick) to measure
  absolute lag.
* ``span_seconds`` — ``max(ts) − min(ts)``: the chunk's observed time
  coverage.
* ``bucket_fill_rate`` — distinct non-empty ``bucket_seconds`` buckets ÷
  buckets the chunk's own [min, max] span should contain: temporal
  completeness without sorting anything (an ingest outage inside the chunk
  reads as missing buckets). 1.0 for a ≤1-bucket span.
* ``max_gap_seconds`` — largest inter-arrival gap (exact outage detector;
  a per-chunk window sort — see scale note), NULL for <2 rows.

Scale shape: the first three metrics are pure aggregate expressions over
``ts`` cast to double seconds — one ``groupBy(chunk)``, map-side
combinable. ``bucket_fill_rate`` needs one exact count-distinct (Spark
plans it as an Expand — fine standalone, but it would double every OTHER
fused check's scan), and ``max_gap_seconds`` needs a per-chunk window sort,
so the check is NOT fusable; both features are individually switchable
(``bucket_seconds=None`` / ``include_gap=False``) and with both off the
check degenerates to min/max aggregates. The gap window partitions by
chunk — parallel across chunks, and on ingest-ordered tables (the common
case for event data) the sort is near-local. Equal timestamps contribute a
0 gap whatever their tie order, so the metric is deterministic at any
parallelism.

Cross-engine determinism: ``ts.cast("double")`` is epoch seconds with
micro fraction — DuckDB's ``epoch(ts)`` computes the identical double, and
every derived metric is plain IEEE arithmetic on those.

No fit: thresholds are operational contracts (how stale is too stale),
configuration rather than reference statistics — like the domain and
uniqueness checks.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_validate.calculators.base import assign_chunks, join_headers_long
from spark_validate.chunking import CHUNK_KEY, Chunker, DefaultChunker
from spark_validate.functions.local import local_frame
from spark_validate.result import conform_result
from spark_validate.thresholds import alert_expr


@dataclass
class FreshnessCheck:
    """Per-chunk freshness / temporal-completeness metrics with per-metric
    alert thresholds (each ``None`` = that metric is informational)."""

    timestamp_column: str = "ts"
    bucket_seconds: Optional[int] = 60
    as_of: Optional[object] = None  # datetime/ISO string; None = frame max ts
    max_staleness_seconds: Optional[float] = None
    min_bucket_fill: Optional[float] = None
    max_gap_alert_seconds: Optional[float] = None
    include_gap: bool = True
    chunker: Chunker = field(default_factory=DefaultChunker)

    def fit(self, reference: DataFrame) -> "FreshnessCheck":
        return self  # thresholds are configuration, not reference statistics

    # ---- helpers -------------------------------------------------------------

    def _ts(self) -> F.Column:
        # TIMESTAMP_NTZ won't cast to double directly; route through
        # TIMESTAMP (a no-op for LTZ inputs). The session timezone is pinned
        # to UTC (spark_validate.session.get_spark), so an NTZ wall-clock
        # becomes the same epoch double DuckDB's epoch(ts) computes.
        return F.col(self.timestamp_column).cast("timestamp").cast("double")

    def _resolve_as_of(self, df: DataFrame) -> float:
        if self.as_of is not None:
            v = self.as_of
            if isinstance(v, str):
                v = datetime.datetime.fromisoformat(v)
            if isinstance(v, datetime.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=datetime.timezone.utc)
                return v.timestamp()
            return float(v)
        row = df.agg(F.max(self._ts()).alias("m")).first()
        if row["m"] is None:
            raise ValueError(
                f"cannot default as_of: {self.timestamp_column!r} is all-NULL"
            )
        return float(row["m"])

    # ---- calculate -----------------------------------------------------------

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        ts = self._ts()
        as_of = self._resolve_as_of(df)
        assigned, headers = assign_chunks(df, self.chunker)

        aggs = [
            F.max(ts).alias("__mx"),
            F.min(ts).alias("__mn"),
            F.count(ts).alias("__n"),
        ]
        if self.bucket_seconds:
            bucket = F.floor(ts / F.lit(float(self.bucket_seconds)))
            aggs.append(F.countDistinct(bucket).alias("__nb"))
        wide = assigned.groupBy(CHUNK_KEY).agg(*aggs)

        mx, mn, n = F.col("__mx"), F.col("__mn"), F.col("__n")
        some = n > 0  # all-NULL-ts chunk: metrics are NULL, never fabricated
        specs = [
            (
                "staleness_seconds",
                F.when(some, F.lit(as_of) - mx),
                None,
                self.max_staleness_seconds,
            ),
            ("span_seconds", F.when(some, mx - mn), None, None),
        ]
        if self.bucket_seconds:
            # buckets the span should contain: floor(max/b) - floor(min/b) + 1
            expected = (
                F.floor(mx / F.lit(float(self.bucket_seconds)))
                - F.floor(mn / F.lit(float(self.bucket_seconds)))
                + F.lit(1)
            )
            specs.append(
                (
                    "bucket_fill_rate",
                    F.when(some, F.col("__nb") / expected.cast("double")),
                    self.min_bucket_fill,
                    None,
                )
            )
        structs = [
            F.struct(
                F.lit(self.timestamp_column).alias("column_name"),
                F.lit(method).alias("method"),
                value.cast("double").alias("value"),
                F.lit(lo).cast("double").alias("lower_threshold"),
                F.lit(up).cast("double").alias("upper_threshold"),
            )
            for method, value, lo, up in specs
        ]
        long_df = wide.select(CHUNK_KEY, F.explode(F.array(*structs)).alias("kv")).select(
            CHUNK_KEY, "kv.column_name", "kv.method", "kv.value",
            "kv.lower_threshold", "kv.upper_threshold",
        )
        if self.include_gap:
            long_df = long_df.unionByName(self._gap_long(assigned))
        out = long_df.withColumn("alert", alert_expr())
        return conform_result(join_headers_long(out, headers, period))

    def _gaps(self, assigned: DataFrame) -> DataFrame:
        ts = self._ts()
        w = Window.partitionBy(CHUNK_KEY).orderBy(F.col("__t"))
        return (
            assigned.filter(ts.isNotNull())
            .select(CHUNK_KEY, ts.alias("__t"))
            .withColumn("__gap", F.col("__t") - F.lag("__t").over(w))
        )

    def _gap_long(self, assigned: DataFrame) -> DataFrame:
        gaps = self._gaps(assigned)
        return gaps.groupBy(CHUNK_KEY).agg(
            F.lit(self.timestamp_column).alias("column_name"),
            F.lit("max_gap_seconds").alias("method"),
            F.max("__gap").cast("double").alias("value"),  # NULL for <2 rows
            F.lit(None).cast("double").alias("lower_threshold"),
            F.lit(self.max_gap_alert_seconds).cast("double").alias("upper_threshold"),
        )

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        """One row per detected outage: gaps beyond ``max_gap_alert_seconds``
        (requires ``include_gap``); observed_value = 'gap_seconds@gap_end'."""
        if not (self.include_gap and self.max_gap_alert_seconds is not None):
            from spark_validate.result import VIOLATION_SCHEMA

            return local_frame(df.sparkSession, [], VIOLATION_SCHEMA)
        assigned = self.chunker.assign(df)
        gaps = self._gaps(assigned)
        thr = float(self.max_gap_alert_seconds)
        return gaps.filter(F.col("__gap") > F.lit(thr)).select(
            F.lit("freshness").alias("check"),
            F.lit(self.timestamp_column).alias("column_name"),
            F.col(CHUNK_KEY),
            F.lit(None).cast("string").alias("row_id"),
            F.lit("time_gap").alias("violation_kind"),
            F.concat_ws(
                "@",
                F.col("__gap").cast("string"),
                F.timestamp_seconds(F.col("__t")).cast("string"),
            ).alias("observed_value"),
        )
