"""Distribution calculators (reference §2.5) — visualization-support
aggregations.

* Categorical (`nannyml/distribution/categorical/calculator.py:13-140`):
  per-chunk value counts keeping the global top-5 categories, the rest rolled
  into ``'Other'``, NULL → ``'Missing'`` — rank window + rollup, one shuffle.
* Continuous (`nannyml/distribution/continuous/calculator.py:16-206`): the
  reference evaluates a per-chunk KDE at ~points for joyplots. KDE needs the
  chunk's values in one place — but only ~50 output points per chunk matter,
  so we evaluate our numpy Gaussian KDE inside ``applyInPandas`` per chunk
  (optionally on a per-chunk sample cap), never collecting to the driver.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_validate.calculators.base import assign_chunks
from spark_validate.chunking import CHUNK_KEY, ROW_INDEX, Chunker, DefaultChunker
from spark_validate.session import shuffle_partitions


def categorical_distribution(
    df: DataFrame,
    column: str,
    chunker: Optional[Chunker] = None,
    top_k: int = 5,
) -> DataFrame:
    """(chunk_key, value, cnt, freq) with top-K + 'Other' rollup + 'Missing'."""
    chunker = chunker or DefaultChunker()
    assigned, _ = assign_chunks(df, chunker)
    v = F.coalesce(F.col(column).cast("string"), F.lit("Missing"))
    counts = assigned.groupBy(CHUNK_KEY, v.alias("value")).agg(F.count(F.lit(1)).alias("cnt"))
    # global top-K categories (reference keeps the overall top 5, :106-111)
    top = (
        counts.groupBy("value")
        .agg(F.sum("cnt").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("value"))
        .limit(top_k)
        .select("value")
    )
    marked = counts.join(F.broadcast(top.withColumn("_keep", F.lit(True))), "value", "left")
    rolled = (
        marked.withColumn("value", F.when(F.col("_keep").isNotNull(), F.col("value")).otherwise(F.lit("Other")))
        .groupBy(CHUNK_KEY, "value")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w = Window.partitionBy(CHUNK_KEY)
    return rolled.withColumn("freq", F.col("cnt") / F.sum("cnt").over(w)).select(
        F.col(CHUNK_KEY).alias("chunk_key"), "value", "cnt", "freq"
    )


def continuous_distribution(
    df: DataFrame,
    column: str,
    chunker: Optional[Chunker] = None,
    points: int = 50,
    max_chunk_sample: int = 50_000,
) -> DataFrame:
    """(chunk_key, x, density, cdf) — ~``points`` KDE points per chunk."""
    from spark_validate.calculators.base import presample_chunks
    from spark_validate.functions.mathstats import gaussian_kde_at

    chunker = chunker or DefaultChunker()
    assigned, headers = assign_chunks(df, chunker)
    src = assigned.select(
        CHUNK_KEY,
        *([c for c in (ROW_INDEX,) if c in assigned.columns]),
        F.col(column).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    # sampling contract (SURVEY §7.3): the KDE sample is taken BEFORE the
    # chunk shuffle — a narrow hash-threshold filter bounded by headers'
    # n_rows — so an oversized chunk never materializes in one Arrow worker.
    # (headers counts include the null rows dropped above, so the effective
    # sample is ≤ max_chunk_sample; under-cap chunks are untouched.)
    src = presample_chunks(src, headers, max_chunk_sample)
    if ROW_INDEX in src.columns:
        src = src.drop(ROW_INDEX)

    def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[CHUNK_KEY].iloc[0]
        vals = pdf["_v"].to_numpy()
        if len(vals) > max_chunk_sample * 1.1:  # safety net; presample bounds this
            rng = np.random.default_rng(42)
            vals = rng.choice(vals, max_chunk_sample, replace=False)
        lo, hi = vals.min(), vals.max()
        if lo == hi:
            lo, hi = lo - 0.5, hi + 0.5
        xs = np.linspace(lo, hi, points)
        dens = gaussian_kde_at(vals, xs)
        cdf = np.cumsum((dens[:-1] + dens[1:]) / 2 * np.diff(xs))
        cdf = np.r_[0.0, cdf]
        return pd.DataFrame({CHUNK_KEY: key, "x": xs, "density": dens, "cdf": cdf})

    # compute-dense Arrow stage (per-chunk KDE): pin one shuffle partition per
    # chunk so AQE byte-based coalescing can't serialize the numpy work
    n_shuf = shuffle_partitions(src.sparkSession)
    return src.repartition(n_shuf, CHUNK_KEY).groupBy(CHUNK_KEY).applyInPandas(
        per_chunk, f"{CHUNK_KEY} string, x double, density double, cdf double"
    ).withColumnRenamed(CHUNK_KEY, "chunk_key")
