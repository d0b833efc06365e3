"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs. The engine under test only ever sees the files these
functions write; nothing of the seed leaks into the program otherwise.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator changes what it writes, so cached inputs are rebuilt
CAR_LOAN_GENERATOR = "car_loan_v1"
IMAGE_GENERATOR = "synth_image_v1"

CAR_LOAN_CONTINUOUS = ["car_value", "debt_to_income_ratio", "loan_length", "driver_tenure"]
CAR_LOAN_CATEGORICAL = ["salary_range", "repaid_loan_on_prev_car"]
SALARY_RANGES = ["0 - 20K", "20K - 40K", "40K - 60K", "60K+"]
IMAGE_FORMATS = ["jpeg", "png", "webp"]  # the synthetic table's formats; analysis adds unseen ones

_EPOCH = np.datetime64("2024-01-01T00:00:00", "s")
_QUARTER_S = 91 * 86400 + 6 * 3600  # a mean calendar quarter, in seconds


def input_dir(scratch: str, generator: str, seed: int, rows: int) -> str:
    """Cache key of one generated input set: generator version, seed, size."""
    return os.path.join(scratch, "inputs", f"{generator}-seed{seed}-rows{rows}")


def _write_parts(frame: pd.DataFrame, path: str, n_files: int) -> None:
    """One parquet file per core, so a scan runs one task per core."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(frame)), n_files)):
        table = pa.Table.from_pandas(frame.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def car_loan_frame(seed: int, n_rows: int, quarters: int) -> pd.DataFrame:
    """The car-loan model table (``datasets.load_synthetic_car_loan_dataset``
    columns and formulas), seeded by ``seed``.

    Rows are spread evenly over ``quarters`` calendar quarters, so quarterly
    chunks have the same count at every size. ``debt_to_income_ratio``
    drifts upward in the last quarter of the timeline.
    """
    rng = np.random.default_rng(seed)
    ids = np.arange(n_rows, dtype=np.int64)
    drift = ids >= (3 * n_rows) // 4
    car_value = rng.gamma(4.0, 6000.0, n_rows)
    debt_to_income_ratio = np.clip(rng.beta(2, 5, n_rows) + np.where(drift, 0.25, 0.0), 0, 1.2)
    loan_length = rng.integers(12, 85, n_rows).astype(np.int64)
    driver_tenure = rng.uniform(0, 30, n_rows)
    salary_range = np.take(np.array(SALARY_RANGES), rng.integers(0, 4, n_rows))
    repaid_loan_on_prev_car = np.take(np.array(["False", "True"]), rng.integers(0, 2, n_rows))
    z = (
        1.2
        - 4.0 * debt_to_income_ratio
        + 0.00002 * car_value
        + 0.05 * driver_tenure
        - 0.01 * loan_length
        + np.where(repaid_loan_on_prev_car == "True", 0.8, -0.2)
    )
    repaid = (rng.uniform(0, 1, n_rows) < 1 / (1 + np.exp(-z))).astype(np.int64)
    y_pred_proba = 1 / (1 + np.exp(-(0.8 * z + 0.3 + rng.normal(0, 0.4, n_rows))))
    step_s = (quarters * _QUARTER_S) // n_rows
    return pd.DataFrame(
        {
            "id": ids,
            "car_value": car_value,
            "salary_range": salary_range,
            "debt_to_income_ratio": debt_to_income_ratio,
            "loan_length": loan_length,
            "repaid_loan_on_prev_car": repaid_loan_on_prev_car,
            "driver_tenure": driver_tenure,
            "timestamp": (_EPOCH + ids * step_s).astype("datetime64[us]"),
            "y_pred_proba": y_pred_proba,
            "y_pred": (y_pred_proba >= 0.5).astype(np.int64),
            "repaid": repaid,
        }
    )


def write_car_loan(scratch: str, seed: int, n_rows: int, quarters: int, n_files: int) -> dict:
    """Write reference (first half) and analysis (second half) parquet sets."""
    root = input_dir(scratch, CAR_LOAN_GENERATOR, seed, n_rows)
    frame = car_loan_frame(seed, n_rows, quarters)
    half = n_rows // 2
    paths = {"reference": os.path.join(root, "reference"), "analysis": os.path.join(root, "analysis")}
    _write_parts(frame.iloc[:half], paths["reference"], n_files)
    _write_parts(frame.iloc[half:], paths["analysis"], n_files)
    return paths


def write_image_tables(spark, scratch: str, seed: int, n_rows: int, n_files: int) -> dict:
    """Write the north-rule image+caption table, reference and analysis side.

    Both sides share ``seed`` so the payload PSNR pass pairs every analysis
    image with its reference twin; the analysis side carries duplicate ids,
    manifest orphans and unseen formats.
    """
    from spark_validate.image import synth_image_table

    root = input_dir(scratch, IMAGE_GENERATOR, seed, n_rows)
    sides = {
        "reference": dict(dup_rate=0.0, orphan_rate=0.0),
        "analysis": dict(dup_rate=0.001, orphan_rate=0.001, unseen_fmt_rate=0.02),
    }
    paths = {}
    for side, kw in sides.items():
        paths[side] = os.path.join(root, side)
        synth_image_table(spark, n_rows, n_partitions=n_files, seed=seed, payload_kb=1, **kw).write.mode(
            "overwrite"
        ).parquet(paths[side])
    return paths
