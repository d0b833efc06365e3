"""Config-driven suite runner with checkpoint/lineage resume (north rule).

Reference skeleton: `nannyml/runner.py:112-249` + `nannyml/cli/run.py:20-91`
(YAML config → calculator registry → load-or-fit → calculate → write). Ours
adds the web-scale pieces NannyML lacks:

* a **lineage table** ``(run_id, check, partition_id, checkpoint_epoch,
  rows_seen, metrics, status)`` written per completed chunk/partition;
* **resume-without-recompute**: on restart with the same run_id, completed
  (check, partition) pairs are anti-joined out of the INPUT before any
  aggregation runs — pruned at the scan, not post-hoc. Chunk keys must be
  value-derived for this (period or partition chunkers — the 10^12-row
  configurations); index-based chunkers resume at whole-check granularity.

Example config (YAML or dict):

    run_id: nightly-2026-08-16
    output_dir: /data/validate/out
    store_dir: /data/validate/store
    reference: /data/images/reference.parquet
    analysis: /data/images/analysis.parquet
    # any source (reference/analysis/manifest/benchmark/targets) may also be
    # a dict pinning an Iceberg table version — the replayable-run form:
    #   analysis: {path: "table:lake.images", snapshot_id: 6423559163109015060}
    chunking: {partition_columns: [fmt]}        # or {chunk_period: D, timestamp_column: ts}
    checks:
      - {type: column_stats, columns: [w, h], metrics: [missing_rate, avg, min, max]}
      - {type: domain, columns: [fmt], domain: [jpeg, png, webp]}
      - {type: uniqueness, keys: [image_id], salt_buckets: 16}
      - {type: referential, column: phash, manifest: /data/images/manifest.parquet}
      - {type: drift, columns: [w, h], continuous_methods: [kolmogorov_smirnov, jensen_shannon]}
"""

from __future__ import annotations

import logging
import os
import time
from typing import Dict, Optional

logger = logging.getLogger(__name__)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_validate.calculators import ColumnStatsCalculator
from spark_validate.checks import (
    DomainCheck,
    NumericalRangeCalculator,
    ReferentialIntegrityCheck,
    UniquenessCheck,
    UnseenValuesCalculator,
)
from spark_validate.chunking import CHUNK_KEY, chunker_for
from spark_validate.drift import UnivariateDriftCalculator
from spark_validate.functions.local import local_frame
from spark_validate.io import FittedStore, read_source, read_table, write_results
from spark_validate.session import jvm_compile_counters, warn_untuned_session
from spark_validate.thresholds import (
    ConstantThreshold,
    MedianAbsoluteDeviationThreshold,
    QuantileThreshold,
    StandardDeviationThreshold,
)


def build_chunker(cfg: dict):
    return chunker_for(
        chunk_size=cfg.get("chunk_size"),
        chunk_number=cfg.get("chunk_number"),
        chunk_period=cfg.get("chunk_period"),
        partition_columns=cfg.get("partition_columns"),
        timestamp_column=cfg.get("timestamp_column"),
        order_by=cfg.get("order_by", ()),
        incomplete=cfg.get("incomplete", "keep"),
        segment_by=cfg.get("segment_by"),
    )


_THRESHOLD_TYPES = ("constant", "mad", "quantile", "standard_deviation")


def _threshold(cfg: Optional[dict]):
    if not cfg:
        return None
    kind = cfg.get("type", "standard_deviation")
    if kind == "constant":
        return ConstantThreshold(lower=cfg.get("lower"), upper=cfg.get("upper"))
    if kind == "mad":
        return MedianAbsoluteDeviationThreshold(
            mad_lower_multiplier=cfg.get("mad_lower_multiplier", 3.0),
            mad_upper_multiplier=cfg.get("mad_upper_multiplier", 3.0),
        )
    if kind == "quantile":
        return QuantileThreshold(
            q_lower=cfg.get("q_lower", 0.05), q_upper=cfg.get("q_upper", 0.95)
        )
    if kind == "standard_deviation":
        return StandardDeviationThreshold(
            std_lower_multiplier=cfg.get("std_lower_multiplier", 3.0),
            std_upper_multiplier=cfg.get("std_upper_multiplier", 3.0),
        )
    raise ValueError(f"unknown threshold type {kind!r}; valid types: {', '.join(_THRESHOLD_TYPES)}")


def build_check(spark: SparkSession, cfg: dict, chunker):
    kind = cfg["type"]
    if kind == "column_stats":
        return ColumnStatsCalculator(
            cfg["columns"], metrics=tuple(cfg.get("metrics", ("avg",))), chunker=chunker,
            threshold=_threshold(cfg.get("threshold")) or StandardDeviationThreshold(),
        )
    if kind == "missing":
        return ColumnStatsCalculator(cfg["columns"], metrics=("missing_rate",), chunker=chunker)
    if kind == "range":
        return NumericalRangeCalculator(cfg["columns"], chunker=chunker)
    if kind == "unseen":
        return UnseenValuesCalculator(
            cfg["columns"], chunker=chunker, max_seen=cfg.get("max_seen", 100_000)
        )
    if kind == "domain":
        return DomainCheck(cfg["columns"], domain=cfg["domain"], chunker=chunker)
    if kind == "uniqueness":
        return UniquenessCheck(cfg["keys"], chunker=chunker, salt_buckets=cfg.get("salt_buckets", 0))
    if kind == "caption_consistency":
        from spark_validate.image.consistency import CaptionConsistencyCheck

        return CaptionConsistencyCheck(
            group_col=cfg.get("group_column", "phash"),
            caption_col=cfg.get("caption_column", "caption"),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
        )
    if kind == "alignment":
        from spark_validate.image.alignment import AlignmentCheck

        return AlignmentCheck(
            vec_a=cfg.get("vector_a", "image_embedding"),
            vec_b=cfg.get("vector_b", "caption_embedding"),
            id_col=cfg.get("id_column", "image_id"),
            min_score=cfg.get("min_score", 0.28),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
        )
    if kind == "caption_spam":
        from spark_validate.image.consistency import CaptionSpamCheck

        return CaptionSpamCheck(
            group_col=cfg.get("group_column", "phash"),
            caption_col=cfg.get("caption_column", "caption"),
            max_groups=cfg.get("max_groups", 1),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
        )
    if kind == "referential":
        manifest = read_source(spark, cfg["manifest"])
        return ReferentialIntegrityCheck(
            column=cfg["column"], manifest=manifest,
            manifest_column=cfg.get("manifest_column"), chunker=chunker,
            broadcast_manifest=cfg.get("broadcast_manifest", True),
        )
    if kind == "performance":
        from spark_validate.performance import PerformanceCalculator

        return PerformanceCalculator(
            metrics=tuple(cfg["metrics"]),
            problem_type=cfg.get("problem_type", "binary_classification"),
            y_true=cfg.get("y_true", "y_true"),
            y_pred=cfg.get("y_pred", "y_pred"),
            y_pred_proba=cfg.get("y_pred_proba"),
            chunker=chunker,
        )
    if kind == "cbpe":
        from spark_validate.performance.cbpe import CBPE

        return CBPE(
            metrics=tuple(cfg["metrics"]),
            problem_type=cfg.get("problem_type", "binary_classification"),
            y_true=cfg.get("y_true", "y_true"),
            y_pred=cfg.get("y_pred", "y_pred"),
            y_pred_proba=cfg.get("y_pred_proba", "y_pred_proba"),
            chunker=chunker,
        )
    if kind == "mmd_drift":
        from spark_validate.drift.mmd import MMDDriftCalculator

        return MMDDriftCalculator(
            column_name=cfg.get("column", "embedding"),
            n_features=cfg.get("n_features", 64),
            sigma=cfg.get("sigma"),
            seed=cfg.get("seed", 20),
            chunker=chunker,
            mmd_threshold=cfg.get("mmd_threshold", 0.05),
        )
    if kind == "calibration_drift":
        from spark_validate.performance.calib_drift import CalibrationDriftCalculator

        return CalibrationDriftCalculator(
            y_true=cfg.get("y_true", "y_true"),
            y_pred_proba=cfg.get("y_pred_proba", "y_pred_proba"),
            bin_count=cfg.get("bin_count", 10),
            chunker=chunker,
            ece_threshold=cfg.get("ece_threshold", 0.05),
        )
    if kind == "dle":
        from spark_validate.performance.dle import DLE

        return DLE(
            metrics=tuple(cfg["metrics"]),
            feature_column_names=cfg["feature_columns"],
            y_true=cfg.get("y_true", "y_true"),
            y_pred=cfg.get("y_pred", "y_pred"),
            chunker=chunker,
        )
    if kind == "phash_dedup":
        from spark_validate.image.phash import PhashDedupCheck

        return PhashDedupCheck(
            phash_col=cfg.get("column", "phash"),
            id_col=cfg.get("id_column", "image_id"),
            max_hamming=cfg.get("max_hamming", 4),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
            n_blocks=cfg.get("n_blocks"),
        )
    if kind == "schema":
        from spark_validate.checks.schema import SchemaCheck

        return SchemaCheck(
            expected=cfg["expected"],
            required=cfg.get("required", ()),
            allow_extra=cfg.get("allow_extra", True),
            chunker=chunker,
        )
    if kind == "payload_header":
        from spark_validate.image.header import REAL_SPECS, PayloadHeaderCheck, svi0_specs

        specs = None  # None → SVI0 spec per synth fmt (this container's codec world)
        if cfg.get("specs") == "real":
            specs = REAL_SPECS
        elif cfg.get("fmts"):  # bounded fmt universe from the check config
            specs = svi0_specs(cfg["fmts"])
        return PayloadHeaderCheck(
            fmt_col=cfg.get("fmt_column", "fmt"),
            bytes_col=cfg.get("column", "bytes"),
            w_col=cfg.get("w_column", "w"),
            h_col=cfg.get("h_column", "h"),
            specs=specs,
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
        )
    if kind == "phash_decontamination":
        from spark_validate.image.phash import PhashDecontaminationCheck

        return PhashDecontaminationCheck(
            benchmark=read_source(spark, cfg["benchmark"]),
            phash_col=cfg.get("column", "phash"),
            id_col=cfg.get("id_column", "image_id"),
            max_hamming=cfg.get("max_hamming", 4),
            n_blocks=cfg.get("n_blocks"),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
            broadcast_benchmark=cfg.get("broadcast_benchmark", True),
        )
    if kind == "decontamination":
        from spark_validate.text.decontaminate import DecontaminationCheck

        return DecontaminationCheck(
            benchmark=read_source(spark, cfg["benchmark"]),
            text_col=cfg.get("column", "text"),
            id_col=cfg.get("id_column", "doc_id"),
            n=cfg.get("n", 5),
            threshold=cfg.get("threshold", 0.5),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
            broadcast_benchmark=cfg.get("broadcast_benchmark", True),
        )
    if kind == "text_dedup":
        from spark_validate.text.dedup import TextDedupCheck

        return TextDedupCheck(
            text_col=cfg.get("column", "text"),
            id_col=cfg.get("id_column", "doc_id"),
            threshold=cfg.get("threshold", 0.8),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
            n_hashes=cfg.get("n_hashes", 32),
            shingle_k=cfg.get("shingle_k", 6),
            n_bands=cfg.get("n_bands", 16),
        )
    if kind == "repetition":
        from spark_validate.text.quality import RepetitionCheck

        return RepetitionCheck(
            text_col=cfg.get("column", "text"),
            id_col=cfg.get("id_column", "doc_id"),
            rules=cfg.get("rules"),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
        )
    if kind == "boilerplate":
        from spark_validate.text.boilerplate import BoilerplateCheck

        return BoilerplateCheck(
            text_col=cfg.get("column", "text"),
            id_col=cfg.get("id_column", "doc_id"),
            n=cfg.get("n", 5),
            min_docs=cfg.get("min_docs", 2),
            threshold=cfg.get("threshold", 0.5),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
        )
    if kind == "pii":
        from spark_validate.text.pii import PiiRateCheck

        return PiiRateCheck(
            text_col=cfg.get("column", "text"),
            id_col=cfg.get("id_column", "doc_id"),
            kinds=cfg.get("kinds"),
            patterns=cfg.get("patterns"),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
        )
    if kind == "lm_quality":
        from spark_validate.text.lm import LMQualityCheck

        return LMQualityCheck(
            text_col=cfg.get("column", "text"),
            id_col=cfg.get("id_column", "doc_id"),
            chunker=chunker,
            std_multiplier=cfg.get("std_multiplier", 3.0),
            max_vocab=cfg.get("max_vocab", 50_000),
            max_bigrams=cfg.get("max_bigrams", 200_000),
        )
    if kind == "vocab_drift":
        from spark_validate.text.vocab import VocabDriftCheck

        return VocabDriftCheck(
            text_col=cfg.get("column", "text"),
            id_col=cfg.get("id_column", "doc_id"),
            top_k=cfg.get("top_k", 10_000),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold"),
        )
    if kind == "url_blocklist":
        from spark_validate.text.urls import UrlBlocklistCheck

        return UrlBlocklistCheck(
            domains=cfg["domains"],
            text_col=cfg.get("column", "text"),
            id_col=cfg.get("id_column", "doc_id"),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
        )
    if kind == "snapshot":
        from spark_validate.checks.snapshot import SnapshotDiffCheck

        return SnapshotDiffCheck(
            key_columns=cfg["keys"],
            compare_columns=cfg.get("compare_columns"),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold"),
        )
    if kind == "fd":
        from spark_validate.checks.fd import FunctionalDependencyCheck

        return FunctionalDependencyCheck(
            determinants=cfg["determinants"],
            dependent=cfg["dependent"],
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
        )
    if kind == "reconciliation":
        from spark_validate.checks.reconcile import ReconciliationCheck

        return ReconciliationCheck(
            keys=cfg["keys"],
            measures=cfg["measures"],
            rel_tol=cfg.get("rel_tol", 0.0),
            abs_tol=cfg.get("abs_tol", 0.0),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
            expected_only_threshold=cfg.get("expected_only_threshold", 0.0),
        )
    if kind == "zscore_outliers":
        from spark_validate.checks.profile import ZScoreOutlierCalculator
        from spark_validate.thresholds import ConstantThreshold

        return ZScoreOutlierCalculator(
            column_names=cfg["columns"],
            z=cfg.get("z", 3.0),
            normalize=cfg.get("normalize", True),
            chunker=chunker,
            threshold=ConstantThreshold(cfg.get("lower_threshold"), cfg.get("upper_threshold")),
        )
    if kind == "iqr_outliers":
        from spark_validate.checks.profile import IQROutlierCalculator
        from spark_validate.thresholds import ConstantThreshold

        return IQROutlierCalculator(
            column_names=cfg["columns"],
            k=cfg.get("k", 1.5),
            exact_fit=cfg.get("exact_fit", True),
            normalize=cfg.get("normalize", True),
            chunker=chunker,
            threshold=ConstantThreshold(cfg.get("lower_threshold"), cfg.get("upper_threshold")),
        )
    if kind == "quantiles":
        from spark_validate.checks.profile import QuantileStatsCalculator
        from spark_validate.thresholds import ConstantThreshold

        return QuantileStatsCalculator(
            column_names=cfg["columns"],
            quantiles=tuple(cfg.get("quantiles", (0.25, 0.5, 0.75, 0.9, 0.99))),
            exact=cfg.get("exact", False),
            accuracy=cfg.get("accuracy", 10_000),
            chunker=chunker,
            threshold=ConstantThreshold(cfg.get("lower_threshold"), cfg.get("upper_threshold")),
        )
    if kind == "freshness":
        from spark_validate.checks.freshness import FreshnessCheck

        return FreshnessCheck(
            timestamp_column=cfg.get("column", cfg.get("timestamp_column", "ts")),
            bucket_seconds=cfg.get("bucket_seconds", 60),
            as_of=cfg.get("as_of"),
            max_staleness_seconds=cfg.get("max_staleness_seconds"),
            min_bucket_fill=cfg.get("min_bucket_fill"),
            max_gap_alert_seconds=cfg.get("max_gap_alert_seconds"),
            include_gap=cfg.get("include_gap", True),
            chunker=chunker,
        )
    if kind == "skew":
        from spark_validate.checks.profile import SkewCalculator
        from spark_validate.thresholds import ConstantThreshold

        return SkewCalculator(
            column_names=cfg["columns"],
            chunker=chunker,
            threshold=ConstantThreshold(cfg.get("lower_threshold"), cfg.get("upper_threshold")),
        )
    if kind == "cardinality":
        from spark_validate.checks.profile import CardinalityCalculator
        from spark_validate.thresholds import ConstantThreshold

        return CardinalityCalculator(
            column_names=cfg["columns"],
            exact=cfg.get("exact", True),
            chunker=chunker,
            threshold=ConstantThreshold(cfg.get("lower_threshold"), cfg.get("upper_threshold")),
        )
    if kind == "semantic_types":
        from spark_validate.checks.semantic import SemanticTypeCheck

        return SemanticTypeCheck(
            column_names=cfg["columns"],
            min_match=cfg.get("min_match", 0.9),
            chunker=chunker,
            id_column=cfg.get("id_column"),
        )
    if kind == "compliance":
        from spark_validate.checks.compliance import ComplianceCheck
        from spark_validate.thresholds import ConstantThreshold

        return ComplianceCheck(
            rules=cfg["rules"],
            chunker=chunker,
            id_column=cfg.get("id_column"),
            threshold=ConstantThreshold(
                cfg.get("lower_threshold"), cfg.get("upper_threshold", 0)
            ),
        )
    if kind == "prior_shift":
        from spark_validate.performance.quantify import PriorShiftEstimator

        return PriorShiftEstimator(
            y_true=cfg.get("y_true", "y_true"),
            y_pred=cfg.get("y_pred", "y_pred"),
            chunker=chunker,
            shift_threshold=cfg.get("shift_threshold", 0.05),
        )
    if kind == "payload_drift":
        from spark_validate.image.payload import PayloadDriftCheck

        return PayloadDriftCheck(
            stat_cols=cfg.get("stat_columns", ("px_mean", "px_std")),
            continuous_methods=tuple(cfg.get("continuous_methods", ("jensen_shannon",))),
            chunker=chunker,
            n_bins_doane=cfg.get("n_bins_doane"),
        )
    if kind == "gopher_quality":
        # the Gopher rule battery as a compliance check: per-chunk per-rule
        # violation rates + violation rows from the existing machinery
        from spark_validate.checks.compliance import ComplianceCheck
        from spark_validate.text.quality import gopher_compliance_rules
        from spark_validate.thresholds import ConstantThreshold

        reserved = ("type", "name", "column", "id_column", "lower_threshold", "upper_threshold")
        overrides = {k: v for k, v in cfg.items() if k not in reserved}
        return ComplianceCheck(
            rules=gopher_compliance_rules(cfg.get("column", "text"), **overrides),
            chunker=chunker,
            id_column=cfg.get("id_column"),
            threshold=ConstantThreshold(
                cfg.get("lower_threshold"), cfg.get("upper_threshold", 0)
            ),
        )
    if kind == "gopher_repetition":
        # the repetition battery (char-fraction rules, published caps) as a
        # compliance check; rule exprs are self-contained, so they fuse
        # into the suite's shared scan like any other compliance rule
        from spark_validate.checks.compliance import ComplianceCheck
        from spark_validate.text.repetition import repetition_compliance_rules
        from spark_validate.thresholds import ConstantThreshold

        reserved = ("type", "name", "column", "id_column", "lower_threshold", "upper_threshold")
        overrides = {k: v for k, v in cfg.items() if k not in reserved}
        return ComplianceCheck(
            rules=repetition_compliance_rules(cfg.get("column", "text"), **overrides),
            chunker=chunker,
            id_column=cfg.get("id_column"),
            threshold=ConstantThreshold(
                cfg.get("lower_threshold"), cfg.get("upper_threshold", 0)
            ),
        )
    if kind == "row_completeness":
        from spark_validate.checks.profile import RowCompletenessCalculator
        from spark_validate.thresholds import ConstantThreshold

        return RowCompletenessCalculator(
            column_names=cfg["columns"],
            min_fraction=cfg.get("min_fraction", 1.0),
            chunker=chunker,
            id_column=cfg.get("id_column"),
            threshold=ConstantThreshold(
                cfg.get("lower_threshold"), cfg.get("upper_threshold", 0)
            ),
        )
    if kind == "benford":
        from spark_validate.checks.profile import BenfordCalculator
        from spark_validate.thresholds import ConstantThreshold

        return BenfordCalculator(
            column_names=cfg["columns"],
            chunker=chunker,
            threshold=ConstantThreshold(
                cfg.get("lower_threshold"), cfg.get("upper_threshold", 0.015)
            ),
        )
    if kind == "shape":
        from spark_validate.checks.profile import ShapeStatsCalculator
        from spark_validate.thresholds import ConstantThreshold

        return ShapeStatsCalculator(
            column_names=cfg["columns"],
            chunker=chunker,
            threshold=ConstantThreshold(cfg.get("lower_threshold"), cfg.get("upper_threshold")),
        )
    if kind == "entropy":
        from spark_validate.checks.profile import EntropyCalculator
        from spark_validate.thresholds import ConstantThreshold

        return EntropyCalculator(
            column_names=cfg["columns"],
            chunker=chunker,
            threshold=ConstantThreshold(cfg.get("lower_threshold"), cfg.get("upper_threshold")),
        )
    if kind == "embedding_leakage":
        from spark_validate.sim.ann import EmbeddingLeakageCheck

        return EmbeddingLeakageCheck(
            benchmark=read_source(spark, cfg["benchmark"]),
            threshold=cfg.get("threshold", 0.95),
            vec_col=cfg.get("column", "embedding"),
            id_col=cfg.get("id_column", "vec_id"),
            bench_id_col=cfg.get("benchmark_id_column"),
            bench_vec_col=cfg.get("benchmark_column"),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.0),
            max_benchmark=cfg.get("max_benchmark", 100_000),
        )
    if kind == "phash_drift":
        from spark_validate.image.phash import PhashHistogramDrift

        return PhashHistogramDrift(
            column=cfg.get("column", "phash"),
            n_bins=cfg.get("n_bins", 64),
            fold=cfg.get("fold", 4096),
            eps=cfg.get("eps", 1e-4),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.2),
        )
    if kind == "grouped_drift":
        from spark_validate.drift.grouped import GroupedDriftCalculator

        return GroupedDriftCalculator(
            value_col=cfg["column"],
            group_col=cfg["group_column"],
            continuous_methods=tuple(cfg.get("continuous_methods", ("jensen_shannon",))),
            categorical_methods=tuple(cfg.get("categorical_methods", ("jensen_shannon",))),
            top_k_groups=cfg.get("top_k_groups", 20),
            chunker=chunker,
            n_bins_doane=cfg.get("n_bins_doane"),
        )
    if kind == "category_shift":
        from spark_validate.drift.catshift import CategoryShiftCalculator

        return CategoryShiftCalculator(
            column_names=cfg["columns"],
            chunker=chunker,
            max_categories=cfg.get("max_categories", 200),
            top_m=cfg.get("top_m", 5),
            delta_threshold=cfg.get("delta_threshold", 0.05),
        )
    if kind == "bin_shift":
        from spark_validate.drift.binshift import BinShiftCalculator

        return BinShiftCalculator(
            column_names=cfg["columns"],
            chunker=chunker,
            n_bins=cfg.get("n_bins"),
            top_m=cfg.get("top_m", 5),
            delta_threshold=cfg.get("delta_threshold", 0.05),
        )
    if kind == "correlation_drift":
        from spark_validate.drift.correlation import CorrelationDriftCalculator

        return CorrelationDriftCalculator(
            column_names=cfg.get("columns"),
            pairs=[tuple(p) for p in cfg["pairs"]] if cfg.get("pairs") else None,
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.25),
            null_indicators=cfg.get("null_indicators", False),
        )
    if kind == "rolling_drift":
        from spark_validate.drift.rolling import RollingDriftCalculator

        return RollingDriftCalculator(
            column=cfg["column"],
            n_bins=cfg.get("n_bins", 10),
            categorical=cfg.get("categorical", False),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold", 0.1),
        )
    if kind == "joint_drift":
        from spark_validate.drift.joint import JointHistogramDrift

        return JointHistogramDrift(
            col_x=cfg["column_x"],
            col_y=cfg["column_y"],
            n_bins_x=cfg.get("n_bins_x", 8),
            n_bins_y=cfg.get("n_bins_y", 8),
            method=cfg.get("method", "jensen_shannon"),
            eps=cfg.get("eps", 1e-4),
            chunker=chunker,
            upper_threshold=cfg.get("upper_threshold"),
        )
    if kind == "embedding_drift":
        from spark_validate.drift.embedding import EmbeddingDriftCalculator

        return EmbeddingDriftCalculator(
            embedding_col=cfg.get("column", "embedding"),
            methods=tuple(cfg.get("methods", ("centroid_cosine", "mean_shift_linf", "norm_js"))),
            chunker=chunker,
            dim=cfg.get("dim"),
            n_bins=cfg.get("n_bins", 10),
        )
    if kind == "drift":
        return UnivariateDriftCalculator(
            cfg["columns"],
            continuous_methods=tuple(cfg.get("continuous_methods", ("jensen_shannon",))),
            categorical_methods=tuple(cfg.get("categorical_methods", ("jensen_shannon",))),
            chunker=chunker, n_bins_ecdf=cfg.get("n_bins_ecdf", 10_000),
        )
    raise ValueError(f"unknown check type {kind!r}")


def _check_name(cfg: dict) -> str:
    if cfg.get("name"):  # user-supplied key wins (disambiguates twin checks)
        return str(cfg["name"])
    cols = (
        cfg.get("columns")
        or (list(cfg["rules"]) if cfg.get("rules") else None)
        or (
            list(cfg["determinants"]) + [cfg["dependent"]]
            if cfg.get("determinants")
            else None
        )
        or cfg.get("keys")
        or cfg.get("metrics")
        or cfg.get("feature_columns")
        or cfg.get("required")
        or (
            [c for c in (cfg.get("column"), cfg["group_column"]) if c]
            if cfg.get("group_column")
            else None
        )
        or ([cfg["column_x"], cfg["column_y"]] if cfg.get("column_x") else None)
        or (
            [cfg["vector_a"], cfg.get("vector_b", "caption_embedding")]
            if cfg.get("vector_a")
            else None
        )
        or [cfg.get("column", "")]
    )
    return f"{cfg['type']}__{'_'.join(cols)}"


def _unique_check_names(checks: list) -> list:
    """One stable name per check config. Twin checks (same type+columns, e.g.
    two domain checks with different domains) would otherwise share report
    entries, store keys and streaming checkpoint paths — the second silently
    overwrites (batch) or collides on the checkpoint (streaming)."""
    names, seen = [], set()
    for i, cfg in enumerate(checks):
        base = _check_name(cfg)
        name = base if base not in seen else f"{base}__{i}"
        seen.add(name)
        names.append(name)
    return names


def _completed_partitions(spark, lineage_path: str, run_id: str) -> Optional[DataFrame]:
    try:
        lin = spark.read.parquet(lineage_path)
    except Exception:
        return None
    return (
        lin.filter((F.col("run_id") == run_id) & (F.col("status") == "complete"))
        .select("check", "partition_id")
        .distinct()
    )


def apply_derived_columns(df, derived: Optional[dict]):
    """Attach config-declared virtual columns: ``{name: sql_expr}``. Names
    must not collide with existing columns (silent shadowing would corrupt
    every downstream check) — compared case-insensitively, matching Spark's
    default column resolution. Expressions are folded sequentially in config
    order, so a derived column may reference earlier derived columns;
    Catalyst collapses the chained projections into one."""
    if not derived:
        return df
    seen = {c.lower() for c in df.columns}
    for name, expr in derived.items():
        if name.lower() in seen:
            raise ValueError(f"derived_columns shadow existing columns: [{name!r}]")
        seen.add(name.lower())
        df = df.selectExpr("*", f"{expr} AS {name}")
    return df


def run_suite(spark: SparkSession, config: dict) -> Dict[str, dict]:
    warn_untuned_session(spark)
    run_id = config["run_id"]
    out_dir = config["output_dir"]
    store = FittedStore(config.get("store_dir", os.path.join(out_dir, "store")))
    reference = read_source(spark, config["reference"])
    analysis = read_source(spark, config["analysis"])
    # delayed ground truth arrives separately and joins back by key, exactly
    # the reference runner's target join (nannyml/runner.py:299-305)
    if config.get("analysis_targets"):
        targets = read_source(spark, config["analysis_targets"])
        analysis = analysis.join(targets, config.get("target_join_column", "id"), "left")
    # derived (virtual) columns: SQL expressions materialized on BOTH periods
    # before any check runs, so constraint/drift/stats checks can target
    # expression-valued features (length(bytes), w/h aspect, w*h pixels…)
    # without a separate ETL pass. Pure projections — Catalyst fuses them
    # into the scan, so at 10^12 rows they cost nothing beyond the expression.
    # Applied AFTER the targets join so expressions may reference delayed
    # ground-truth columns (e.g. abs(y_pred - y_true)) and so the shadowing
    # guard sees target-delivered columns too.
    reference = apply_derived_columns(reference, config.get("derived_columns"))
    analysis = apply_derived_columns(analysis, config.get("derived_columns"))
    chunk_cfg = config.get("chunking", {})
    value_derived_chunks = bool(chunk_cfg.get("chunk_period") or chunk_cfg.get("partition_columns"))
    lineage_path = os.path.join(out_dir, "lineage")
    completed = _completed_partitions(spark, lineage_path, run_id) if value_derived_chunks else None
    if completed is not None:
        completed = completed.persist()
        if completed.count() == 0:
            completed = None

    report: Dict[str, dict] = {}
    fail_fast = bool(config.get("fail_fast", False))
    epoch = int(time.time())
    db_writer = None
    if config.get("database"):
        from spark_validate.io.db import DatabaseWriter

        db_cfg = config["database"]
        if "connection_string" not in db_cfg:
            raise ValueError(
                "database config requires 'connection_string' "
                "(e.g. sqlite:////path/to/metrics.db or jdbc:postgresql://...); "
                f"got keys {sorted(db_cfg)}"
            )
        db_writer = DatabaseWriter(
            db_cfg["connection_string"],
            table=db_cfg.get("table", "metrics"),
            model_name=db_cfg.get("model_name"),
        )
    check_names = _unique_check_names(config["checks"])

    # ---- phase 1: build + load-or-fit every check --------------------------
    # (fit must precede the fused pass: fuse_contrib needs fitted state)
    # (name, check_cfg, chunker, calc, from_store, fit_secs, fit_compiles)
    prepared = []
    for name, check_cfg in zip(check_names, config["checks"]):
        chunker = build_chunker(chunk_cfg)
        calc = build_check(spark, check_cfg, chunker)
        t_fit0 = time.time()
        compiles0 = jvm_compile_counters(spark)
        # load-or-fit (store hit skips the reference aggregation entirely);
        # domain/uniqueness/referential checks carry no reference-fitted state
        from_store = False
        needs_fit = check_cfg["type"] in (
            "column_stats", "missing", "range", "unseen", "drift", "embedding_drift",
            "performance", "cbpe", "dle", "calibration_drift", "mmd_drift", "lm_quality", "zscore_outliers", "snapshot",
            "reconciliation",
            "iqr_outliers", "phash_drift", "joint_drift", "grouped_drift", "rolling_drift",
            "semantic_types",
            "vocab_drift", "correlation_drift", "category_shift", "bin_shift", "payload_drift",
            "prior_shift",
        )
        if needs_fit:
            if hasattr(calc, "get_state"):
                key = f"{run_id}__{name}"
                state = store.load(key)
                if state is not None:
                    try:
                        calc.set_state(state)
                        from_store = True
                    except (KeyError, TypeError, ValueError) as exc:
                        # stale state from an older engine version (e.g. a
                        # field the formula now requires): refit + resave
                        # rather than abort the run — silently defaulting the
                        # missing field would change scores, refitting can't
                        logger.warning(
                            "stored state for %r is stale (%s); refitting", name, exc
                        )
                        state = None
                if state is None:
                    calc.fit(reference)
                    # only state persistence is optional — a fit/set_state
                    # failure must propagate, not be mistaken for this
                    if hasattr(calc, "manifest_dir") and calc.manifest_dir is None:
                        # large seen-sets persist as parquet manifests beside
                        # the JSON state instead of refusing serialization
                        calc.manifest_dir = os.path.join(store.root, f"{key}__manifest")
                    from spark_validate.io.store import StateNotSerializable

                    try:
                        store.save(key, calc.get_state())
                    except (TypeError, StateNotSerializable) as exc:
                        # TypeError: no JSON state (e.g. lightgbm);
                        # StateNotSerializable: state DECLARED non-persistable
                        # by the calculator — warn and continue with the
                        # fitted calculator, never abort a run whose fit
                        # already succeeded. Any other ValueError is a real
                        # get_state bug and propagates (ADVICE r5).
                        logger.warning("state not storable for %r (%s); fitted without store", name, exc)
            else:
                calc.fit(reference)
        compiles1 = jvm_compile_counters(spark)
        fit_compiles = tuple(b - a for a, b in zip(compiles0, compiles1))
        prepared.append((name, check_cfg, chunker, calc, from_store, time.time() - t_fit0, fit_compiles))

    # ---- fused shared-scan pass ---------------------------------------------
    # One groupBy(chunk) aggregation for every agg-shaped check (stats /
    # missing / range / domain / unseen-list): one scan + one shuffle of the
    # analysis table instead of one per check. A lone fusable check's own
    # calculate runs the same pass. Skipped on resume runs — per-check
    # partition pruning gives each check a different input.
    fused_results: Dict[str, DataFrame] = {}
    fused_wide = None
    if completed is None:
        from spark_validate.fused import fused_calculate, is_fusable

        fusable = {n: c for (n, _cfg, _ch, c, *_rest) in prepared if is_fusable(c)}
        if len(fusable) > 1:
            shared_chunker = prepared[0][2]
            fused_results, fused_wide = fused_calculate(fusable, analysis, shared_chunker)
            logger.info("fused pass covers %d/%d checks: %s",
                        len(fusable), len(prepared), sorted(fusable))

    # ---- phase 2: calculate / write / lineage per check ----------------------
    for name, check_cfg, chunker, calc, from_store, fit_secs, fit_compiles in prepared:
        violations_error: Optional[str] = None
        t0 = time.time() - fit_secs  # report secs include this check's fit
        compiles0 = jvm_compile_counters(spark)

        # resume: prune completed partitions from the INPUT (scan-level skip)
        ana = analysis
        skipped = 0
        if completed is not None:
            mine = completed.filter(F.col("check") == name).select(
                F.col("partition_id").alias(CHUNK_KEY)
            )
            skipped = mine.count()
            if skipped:
                assigned = chunker.assign(analysis)
                ana = assigned.join(F.broadcast(mine), CHUNK_KEY, "left_anti").drop(CHUNK_KEY)

        result = fused_results.get(name)
        if result is None:
            result = calc.calculate(ana)
        if config.get("include_reference") and completed is None:
            # reference parity: NannyML result frames carry BOTH periods
            # (`nannyml/base.py` filter(period='reference')) — the reference
            # chunks scored under their own fitted thresholds are the
            # baseline readers compare the analysis rows against. Opt-in:
            # it re-reads the reference once per check; alert/lineage
            # accounting below stays analysis-only (resume semantics too).
            # Checks without a period kwarg (estimators) have no scored
            # reference concept here and are skipped.
            import inspect

            if "period" in inspect.signature(calc.calculate).parameters:
                result = calc.calculate(reference, period="reference").unionByName(result)
        result = result.withColumn("run_id", F.lit(run_id)).withColumn("check", F.lit(name))
        write_results(result, os.path.join(out_dir, "results"), partition_by=["check"])

        plot_path = plot_error = None
        if config.get("plots"):
            # reference parity: every quick-start ends in result.plot()
            # (`nannyml/plots/blueprints/metrics.py:16-160`). The input is the
            # chunk-level aggregate just written — driver-side rendering is
            # bounded regardless of corpus size.
            try:
                from spark_validate.plots import plot_result, save_plot

                svg = plot_result(result, title=name)
                plot_path = save_plot(
                    svg, os.path.join(out_dir, "plots", f"{name}.svg")
                )
            except Exception as exc:
                if fail_fast:
                    raise
                plot_error = f"{type(exc).__name__}: {' '.join(str(exc).splitlines()[:2]).strip()}"[:500]
                logger.warning("plot render failed for check %r: %s", name, exc)

        db_rows = db_error = None
        if db_writer is not None:
            try:
                if config["database"].get("table_per_check"):
                    # reference parity: one SQL table per calculator
                    # (`nannyml/io/db/entities.py:45-120` defines per-metric
                    # entity tables); table name = <base>_<check>, sanitized
                    import re as _re

                    base = config["database"].get("table", "metrics")
                    db_writer.table = _re.sub(r"\W+", "_", f"{base}_{name}").strip("_")
                db_rows = db_writer.write(result, run_id=f"{run_id}__{name}")
            except Exception as exc:
                if fail_fast:
                    raise
                db_error = f"{type(exc).__name__}: {' '.join(str(exc).splitlines()[:2]).strip()}"[:500]
                logger.warning("database write failed for check %r: %s", name, exc)

        if hasattr(calc, "violations"):
            try:
                v = (
                    calc.violations(ana)
                    .withColumn("run_id", F.lit(run_id))
                    .withColumn("check", F.lit(name))
                )
                # 100 TB safety valve: a 10% violation rate over 10^12 rows is
                # 10^11 exploded rows — more output than input. Optional
                # deterministic hash-threshold sampling (pure narrow filter,
                # zero shuffle, identical rows on every rerun/recompute; the
                # corpus-sampling primitive reused); per-chunk violation RATES
                # in results/ stay exact either way.
                rate = config.get("violations_sample_rate")
                if rate is not None and float(rate) < 1.0:
                    from spark_validate.text.sampling import deterministic_sample

                    # key = every identity column available; rows without a
                    # row_id that also share kind/column/observed value are
                    # literally interchangeable and sample as a group.
                    # to_json(struct(...)) is collision-resistant: NULLs and
                    # '|' inside values stay distinguishable (concat_ws would
                    # silently skip NULL fields and merge on embedded '|',
                    # correlating kept rows and skewing the effective rate)
                    v = v.withColumn(
                        "_sv_vkey",
                        F.to_json(
                            F.struct(
                                "chunk_key",
                                "row_id",
                                "violation_kind",
                                "column_name",
                                "observed_value",
                            )
                        ),
                    )
                    # salt intentionally run-independent: the kept subset is a
                    # pure function of the violation rows, so reruns and
                    # resumed runs agree on which rows were preserved
                    v = deterministic_sample(
                        v,
                        float(rate),
                        key_col="_sv_vkey",
                        salt=str(config.get("violations_sample_salt", "sv")),
                    ).drop("_sv_vkey")
                write_results(v, os.path.join(out_dir, "violations"), partition_by=["check"])
            except Exception as exc:  # violations sink is a north-rule output:
                # never swallow silently — log, record in the run report, and
                # fail the run when the caller asked for strictness.
                if fail_fast:
                    raise
                # head of the message only — py4j errors carry the full Java
                # stack; the first two lines hold the operation and root cause
                head = " ".join(str(exc).splitlines()[:2]).strip()
                violations_error = f"{type(exc).__name__}: {head}"[:500]
                logger.warning("violations write failed for check %r: %s", name, exc)

        # JVM compile cost of this check: Janino class compiles and HotSpot
        # JIT time over its fit and its calculate and writes (the fused pass
        # is shared, so no check owns it)
        codegen_compiles, jit_ms = (
            f + b - a for f, a, b in zip(fit_compiles, compiles0, jvm_compile_counters(spark))
        )

        # lineage rows for the partitions just completed — analysis period
        # only: reference rows (include_reference) share chunk keys with
        # analysis chunks under size/count chunkers, and a reference row in
        # lineage would mark an uncomputed analysis partition as complete
        res_df = spark.read.parquet(os.path.join(out_dir, "results")).filter(
            (F.col("run_id") == run_id)
            & (F.col("check") == name)
            & (F.col("period") == "analysis")
        )
        # the per-run numbers arrive as a one-row frame: as literals, code
        # generation would inline them and compile new classes every run
        run_values = local_frame(
            spark, [(epoch, float(codegen_compiles), float(jit_ms))],
            "_epoch long NOT NULL, _compiles double, _jit_ms double",
        )
        lineage = res_df.groupBy("chunk_key").agg(
            F.count(F.lit(1)).alias("_n_metrics"),
            F.sum(F.col("alert").cast("long")).alias("_alerts"),
        ).crossJoin(run_values).select(
            F.lit(run_id).alias("run_id"),
            F.lit(name).alias("check"),
            F.col("chunk_key").alias("partition_id"),
            F.col("_epoch").alias("checkpoint_epoch"),
            F.col("_n_metrics").cast("long").alias("rows_seen"),
            F.create_map(
                F.lit("alerts"), F.col("_alerts").cast("double"),
                F.lit("codegen_compiles"), F.col("_compiles"),
                F.lit("jit_ms"), F.col("_jit_ms"),
            ).alias("metrics"),
            F.lit("complete").alias("status"),
        )
        write_results(lineage, lineage_path)

        row = res_df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("alert").cast("int")).alias("alerts"),
            F.countDistinct("chunk_key").alias("n_chunks"),
        ).first()
        if row["n_chunks"] is not None and row["n_chunks"] < 6:
            # reference warns below 6 chunks: thresholds fitted on so few
            # chunk values are unreliable (nannyml/chunk.py:179-184)
            logger.warning(
                "check %r produced only %d chunks (< 6): chunk-level thresholds "
                "and sampling-error estimates may be unreliable",
                name,
                row["n_chunks"],
            )
        report[name] = {
            "rows": row["rows"],
            "alerts": row["alerts"] or 0,
            "fitted_from_store": from_store,
            "skipped_partitions": skipped,
            "secs": round(time.time() - t0, 2),
            "codegen_compiles": codegen_compiles,
            "jit_ms": jit_ms,
        }
        if violations_error is not None:
            report[name]["violations_error"] = violations_error
        if plot_path is not None:
            report[name]["plot"] = plot_path
        if plot_error is not None:
            report[name]["plot_error"] = plot_error
        if db_rows is not None:
            report[name]["db_rows"] = db_rows
        if db_error is not None:
            report[name]["db_error"] = db_error
        if hasattr(calc, "release_cache"):
            calc.release_cache()  # results are written; cached aggregates can go
    # ---- distribution frames + ridgeline/stacked-bar figures ----------------
    # reference parity: ``result.plot(kind='distribution')`` — the joyplot /
    # stacked-bar blueprints (`nannyml/plots/blueprints/distributions.py`).
    # Config: ``distributions: {continuous: [cols], categorical: [cols]}``.
    # Frames land in <out>/distributions/check=…; with ``plots`` on, each
    # renders an SVG that the plots CLI index picks up alongside the
    # per-check metric figures.
    # Skipped on resume runs: the original run already wrote the frames,
    # and an append-mode rewrite would double every chunk's curve in the
    # sink (and in any figure rendered from it).
    dist_cfg = (config.get("distributions") or {}) if completed is None else {}
    if dist_cfg:
        from spark_validate.distribution import (
            categorical_distribution,
            continuous_distribution,
        )

        dist_chunker = build_chunker(config.get("chunking", {}))
        for kind, cols in (
            ("continuous", dist_cfg.get("continuous", ())),
            ("categorical", dist_cfg.get("categorical", ())),
        ):
            for col in cols:
                dname = f"distribution_{kind}__{col}"
                t0 = time.time()
                try:
                    if kind == "continuous":
                        frame = continuous_distribution(
                            analysis, col, chunker=dist_chunker,
                            points=int(dist_cfg.get("points", 50)),
                        )
                    else:
                        frame = categorical_distribution(
                            analysis, col, chunker=dist_chunker,
                            top_k=int(dist_cfg.get("top_k", 5)),
                        )
                    frame = frame.withColumn("run_id", F.lit(run_id)).withColumn(
                        "check", F.lit(dname)
                    )
                    write_results(
                        frame, os.path.join(out_dir, "distributions"), partition_by=["check"]
                    )
                    written = spark.read.parquet(
                        os.path.join(out_dir, "distributions", f"check={dname}")
                    ).filter(F.col("run_id") == run_id)
                    entry = {"rows": written.count(), "secs": round(time.time() - t0, 2)}
                    if config.get("plots"):
                        from spark_validate.plots import (
                            plot_categorical_distribution,
                            plot_continuous_distribution,
                            save_plot,
                        )

                        render = (
                            plot_continuous_distribution
                            if kind == "continuous"
                            else plot_categorical_distribution
                        )
                        entry["plot"] = save_plot(
                            render(written, title=dname),
                            os.path.join(out_dir, "plots", f"{dname}.svg"),
                        )
                    report[dname] = entry
                except Exception as exc:
                    if fail_fast:
                        raise
                    head = " ".join(str(exc).splitlines()[:2]).strip()
                    report[dname] = {"error": f"{type(exc).__name__}: {head}"[:500]}
                    logger.warning("distribution %r failed: %s", dname, exc)

    # ---- per-partition pass/fail verdicts (north rule) ----------------------
    # one row per analysis partition/chunk ACROSS every check in this run —
    # the "did this partition pass the suite" artifact the north_star names
    # alongside the exploded violation rows. Computed from the just-written
    # results sink (≤ chunks × checks × methods rows), written per-run so
    # resume reruns overwrite their own rollup idempotently.
    try:
        res_all = spark.read.parquet(os.path.join(out_dir, "results")).filter(
            F.col("run_id") == run_id
        )
        verdicts = (
            res_all.groupBy("chunk_key")
            .agg(
                F.countDistinct("check").alias("checks_run"),
                F.count(F.lit(1)).alias("metrics_evaluated"),
                F.sum(F.col("alert").cast("long")).alias("n_alerts"),
            )
            .withColumn("passed", F.col("n_alerts") == 0)
        )
        write_results(
            verdicts,
            os.path.join(out_dir, "verdicts", f"run_id={run_id}"),
            mode="overwrite",
        )
    except Exception as exc:  # the rollup is derived — never kill the run
        if fail_fast:
            raise
        logger.warning("partition-verdict rollup failed: %s", exc)

    if completed is not None:
        completed.unpersist(blocking=False)
    if fused_wide is not None:
        fused_wide.unpersist(blocking=False)
    return report


def load_config(path: str) -> dict:
    import json

    with open(path) as f:
        text = f.read()
    try:
        import yaml

        return yaml.safe_load(text)
    except ImportError:  # pragma: no cover
        return json.loads(text)


def render_path_template(template: str, now=None) -> str:
    """Reference-compat output-path templating
    (`nannyml/config.py:154-170` ``_render_path_template``): the same
    ``{{minute}} {{hour}} {{day}} {{weeknumber}} {{month}} {{year}}``
    variables, via plain substitution instead of jinja2 (not in this
    runtime, and the reference only ever renders these six scalars)."""
    import datetime as _dt

    now = now or _dt.datetime.now()
    vals = {
        "minute": now.strftime("%M"),
        "hour": now.strftime("%H"),
        "day": now.strftime("%d"),
        "weeknumber": str(now.date().isocalendar()[1]),
        "month": now.strftime("%m"),
        "year": now.strftime("%Y"),
    }
    out = template
    for k, v in vals.items():
        out = out.replace("{{" + k + "}}", v).replace("{{ " + k + " }}", v)
    return out


def run_scheduled(spark, config: dict, run_fn=None, sleep_fn=None, max_runs=None, now_fn=None) -> list:
    """Reference-compat scheduling loop (`nannyml/cli/run.py:23-58`): a
    ``scheduling: {interval_seconds: N}`` block re-runs the suite every N
    seconds (APScheduler interval trigger), and ``scheduling: {cron:
    "*/5 * * * *"}`` re-runs on a five-field cron expression (APScheduler
    ``CronTrigger.from_crontab`` parity — spark_validate.cron, stdlib-only).
    Each run renders path templates fresh and gets a unique ``run_id``
    suffix so lineage rows don't collide. ``run_fn``/``sleep_fn``/
    ``max_runs``/``now_fn`` exist for tests."""
    import copy
    import time as _time
    from datetime import datetime

    if run_fn is None:
        if config.get("curation"):  # curation job: same CLI, same scheduling
            from spark_validate.text.curate import run_curation

            run_fn = run_curation
        else:
            run_fn = run_suite
    sleep_fn = sleep_fn or _time.sleep
    now_fn = now_fn or datetime.now
    sched = config.get("scheduling") or {}
    interval = sched.get("interval_seconds")
    cron_expr = sched.get("cron")
    if interval and cron_expr:
        raise ValueError("scheduling: give interval_seconds OR cron, not both")
    if cron_expr:
        from spark_validate.cron import parse_cron

        parse_cron(cron_expr)  # fail fast on a bad expression
    recurring = bool(interval or cron_expr)
    reports = []
    i = 0
    while True:
        cfg = copy.deepcopy(config)
        for key in ("output_dir", "store_dir"):
            if key in cfg:
                cfg[key] = render_path_template(cfg[key])
        if recurring:
            cfg["run_id"] = f"{cfg.get('run_id', 'run')}__{i}"
        reports.append(run_fn(spark, cfg))
        i += 1
        if not recurring or (max_runs is not None and i >= max_runs):
            return reports
        if cron_expr:
            from spark_validate.cron import next_fire

            now = now_fn()
            sleep_fn(max((next_fire(cron_expr, now) - now).total_seconds(), 0.0))
        else:
            sleep_fn(interval)


def main():  # pragma: no cover - thin CLI
    import argparse

    from spark_validate.session import get_spark

    ap = argparse.ArgumentParser(description="spark-validate suite runner")
    ap.add_argument("--config", required=True)
    args = ap.parse_args()
    spark = get_spark("spark_validate_runner")
    config = load_config(args.config)
    reports = run_scheduled(spark, config)
    for report in reports:
        for k, v in report.items():
            print(k, v)


if __name__ == "__main__":
    main()
