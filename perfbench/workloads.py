"""The benchmark's closed-loop workloads.

Each workload writes its inputs once per run (:meth:`prepare`), then
:meth:`op` performs one operation the way a production caller would and
returns the op's output fingerprint. An op takes an optional
:class:`~perfbench.trace.Tracer`; with one, the op runs with the engine's
entry points wrapped in spans and reports per-layer seconds and counts.

On a 4-core machine every op is bound by Spark job launches, not by rows:
one calculator costs tens of jobs whatever the table size. Op sizes are
therefore set by the number of calculators, small enough that a run (Spark
start, inputs, a cold warm-up op and a few measured ops) stays near a
minute.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.trace import Tracer, layer_patches, layer_totals, tree_usage

# analysis rows per workload at each size; "tiny" is the self-test size
SIZES = {
    "model_monitor": {"full": 5_000, "tiny": 1_000},
    "runner_recurring": {"full": 1_000, "tiny": 200},
}
QUARTERS_PER_SIDE = 4


@dataclass
class Context:
    spark: object
    scratch: str
    seed: int
    size: str
    nproc: int


@dataclass
class OpResult:
    fingerprint: dict
    wall_s: float
    cpu_s: float  # CPU seconds of the whole process tree (driver, JVM, workers)
    fit_s: float  # part of wall_s spent fitting reference state
    rows: int  # analysis rows validated
    layer_s: Dict[str, float] = field(default_factory=dict)  # traced ops only
    counts: Dict[str, float] = field(default_factory=dict)  # traced ops only
    detail: dict = field(default_factory=dict)  # per-check seconds


def _span(tracer: Optional[Tracer], name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _drain(df: DataFrame) -> list:
    """Materialize a result frame: [rows, alerts]."""
    row = df.agg(F.count(F.lit(1)).alias("rows"), F.sum(F.col("alert").cast("int")).alias("alerts")).first()
    return [row["rows"], row["alerts"] or 0]


def _cpu_s() -> float:
    return tree_usage(os.getpid())[1]


def _timed_fit(calc, frame) -> float:
    t0 = time.perf_counter()
    calc.fit(frame)
    return time.perf_counter() - t0


def _traced(tracer: Optional[Tracer], body) -> OpResult:
    """Run ``body(tracer)`` as one op; with a tracer, inside a root span and
    with the engine's entry points wrapped, then fold the op's spans into
    per-layer self seconds and counts."""
    if tracer is None:
        return body(None)
    first = len(tracer.spans)
    with layer_patches(tracer), tracer.span("op"):
        result = body(tracer)
    spans = tracer.spans[first:]
    tracer.resolve_spark_counts(spans)
    counts = result.counts
    for name, t in layer_totals(spans).items():
        result.layer_s[name] = t["self_s"]
        layer = name.split(".", 1)[0]
        counts[f"{layer}.jobs"] = counts.get(f"{layer}.jobs", 0) + t["jobs"]
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            counts[f"spark.{k}"] = counts.get(f"spark.{k}", 0) + t[k]
        if name == "io.write":
            counts["io.write_calls"] = t["calls"]
        elif name == "fused.calc":
            counts["fused.checks_fused"] = t["checks_fused"]
        elif name == "io.store_load":
            counts["io.store_loads"] = t["store_loads"]
            counts["io.store_hits"] = t["store_hits"]
    return result


# -------------------------------------------------------------- model_monitor


def _chunker():
    from spark_validate.chunking import chunker_for

    return chunker_for(chunk_period="Q", timestamp_column="timestamp")


class ModelMonitor:
    """The monitoring core loop on the car-loan model table: univariate
    drift (Jensen-Shannon on the drifting feature) and CBPE performance
    estimation, each fit on the reference half and run on the analysis half,
    quarterly chunks. Bound by fit; no payload, no writes, no runner."""

    name = "model_monitor"

    def prepare(self, ctx: Context) -> None:
        self.rows = SIZES[self.name][ctx.size]
        self.paths = inputs.write_car_loan(ctx.scratch, ctx.seed, 2 * self.rows, 2 * QUARTERS_PER_SIDE, ctx.nproc)

    def warm_up(self, ctx: Context) -> dict:
        """Run one op; return its fingerprint, the one every later op must match."""
        return self.op(ctx).fingerprint

    def op(self, ctx: Context, tracer: Optional[Tracer] = None) -> OpResult:
        from spark_validate.drift import UnivariateDriftCalculator
        from spark_validate.performance.cbpe import CBPE

        def body(tracer):
            t0, cpu0 = time.perf_counter(), _cpu_s()
            ref = ctx.spark.read.parquet(self.paths["reference"])
            ana = ctx.spark.read.parquet(self.paths["analysis"]).drop("repaid")
            calcs = [
                ("univariate", "drift", UnivariateDriftCalculator(
                    ["debt_to_income_ratio"],
                    continuous_methods=("jensen_shannon",),
                    chunker=_chunker(),
                )),
                ("cbpe", "performance", CBPE(
                    metrics=("roc_auc",), y_true="repaid", y_pred="y_pred",
                    y_pred_proba="y_pred_proba", chunker=_chunker(),
                )),
            ]
            fit_s, fingerprint, detail = 0.0, {}, {}
            for name, layer, calc in calcs:
                t = time.perf_counter()
                fit_s += _timed_fit(calc, ref)
                result = calc.estimate(ana) if layer == "performance" else calc.calculate(ana)
                with _span(tracer, f"{layer}.calc"):
                    fingerprint[name] = _drain(result)
                if hasattr(calc, "release_cache"):
                    calc.release_cache()  # as run_suite does once results are out
                detail[name] = time.perf_counter() - t
            wall_s, cpu_s = time.perf_counter() - t0, _cpu_s() - cpu0
            return OpResult(fingerprint, wall_s, cpu_s, fit_s, self.rows, detail=detail)

        return _traced(tracer, body)

    @staticmethod
    def check(fp: dict) -> Optional[str]:
        """Seed-independent expectations on a fingerprint; None when met."""
        # the analysis half's last quarter carries the injected drift
        if fp["univariate"][1] == 0:
            return "univariate drift raised no alert on the drifted analysis quarter"
        return None


# ----------------------------------------------------------- runner_recurring

# run_suite checks over the image+caption table. fmt_domain and caption_pii
# share the fused scan; payload_drift runs the Arrow payload decode and loads
# its reference-fitted state from the store.
RUNNER_CHECKS = [
    {"name": "fmt_domain", "type": "domain", "columns": ["fmt"], "domain": inputs.IMAGE_FORMATS},
    {"name": "caption_pii", "type": "pii", "column": "caption", "id_column": "image_id"},
    {"name": "payload_drift", "type": "payload_drift", "stat_columns": ["px_mean"]},
]
RUNNER_FITTED = ["payload_drift"]


def _tree_size(root: str) -> tuple:
    """(files, bytes) under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class RunnerRecurring:
    """The scheduled production run: ``runner.run_suite`` over the image and
    caption table, count-based chunks. The first run fills the fitted-state
    store, so every measured op loads all fits from it and writes results,
    violations, lineage and verdicts into a fresh output directory."""

    name = "runner_recurring"

    def prepare(self, ctx: Context) -> None:
        self.rows = SIZES[self.name][ctx.size]
        self.paths = inputs.write_image_tables(ctx.spark, ctx.scratch, ctx.seed, self.rows, ctx.nproc)
        self.out_root = os.path.join(ctx.scratch, "runner-out")
        self.ops = 0
        # the store key includes run_id: every op reuses the run_id that
        # filled the store, so each op loads all of its fits
        self.config = {
            "run_id": f"perfbench-{ctx.seed}",
            "store_dir": os.path.join(ctx.scratch, "runner-store"),
            "reference": self.paths["reference"],
            "analysis": self.paths["analysis"],
            "chunking": {"chunk_number": 8, "order_by": ["image_id"]},
            "checks": RUNNER_CHECKS,
        }

    def warm_up(self, ctx: Context) -> dict:
        """Fill the store with the first run; return the fingerprint later
        ops must match: the same outputs, with every fit loaded."""
        fingerprint = self.op(ctx).fingerprint
        return dict(fingerprint, fits_loaded=RUNNER_FITTED)

    def op(self, ctx: Context, tracer: Optional[Tracer] = None) -> OpResult:
        from spark_validate.runner import run_suite

        self.ops += 1
        out_dir = os.path.join(self.out_root, f"op{self.ops}")

        def body(tracer):
            t0, cpu0 = time.perf_counter(), _cpu_s()
            with _span(tracer, "runner.run"):
                report = run_suite(ctx.spark, dict(self.config, output_dir=out_dir))
            return OpResult({}, time.perf_counter() - t0, _cpu_s() - cpu0, 0.0, self.rows, detail=report)

        result = _traced(tracer, body)
        report = result.detail
        files, size = _tree_size(out_dir)
        # lineage records each check's timings, so its size varies by a few
        # bytes from op to op; every other output is byte-for-byte repeatable
        lineage_bytes = _tree_size(os.path.join(out_dir, "lineage"))[1]
        verdicts = ctx.spark.read.parquet(os.path.join(out_dir, "verdicts")).count()
        shutil.rmtree(out_dir)
        result.fingerprint = {
            "checks": {k: [v["rows"], v["alerts"]] for k, v in report.items()},
            "files_written": files,
            "bytes_written_without_lineage": size - lineage_bytes,
            "verdict_rows": verdicts,
            "fits_loaded": sorted(k for k, v in report.items() if v.get("fitted_from_store")),
        }
        result.detail = {k: v["secs"] for k, v in report.items()}
        if tracer is not None:
            result.counts["io.files_written"] = files
            result.counts["io.bytes_written"] = size
        return result

    @staticmethod
    def check(fp: dict) -> Optional[str]:
        """Seed-independent expectations on a fingerprint; None when met."""
        # the analysis side carries a format the domain does not list
        if fp["checks"]["fmt_domain"][1] == 0:
            return "fmt_domain raised no alert on the unseen format of the analysis side"
        if any(rows == 0 for rows, _ in fp["checks"].values()):
            return f"a check returned no rows: {fp['checks']}"
        return None


WORKLOADS = {w.name: w for w in (ModelMonitor, RunnerRecurring)}
