"""Structured Streaming incremental validation (memory sink smoke)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_validate.streaming import attach_thresholds, streaming_column_stats, streaming_violations

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("fmt", T.StringType()),
    ]
)


@pytest.fixture()
def stream_dir(tmp_path, spark):
    rng = np.random.default_rng(12)
    n = 2000
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="30s"),
            "value": rng.normal(10, 2, n),
            "fmt": rng.choice(["jpeg", "png", "bmp"], n, p=[0.6, 0.35, 0.05]),
        }
    )
    spark.createDataFrame(pdf, SCHEMA).write.mode("overwrite").parquet(str(tmp_path / "in"))
    return str(tmp_path / "in")


def _drain(q):
    q.processAllAvailable()
    q.stop()


def test_streaming_column_stats(spark, stream_dir):
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    stats = streaming_column_stats(stream, "ts", ["value"], window_duration="10 minutes")
    q = (
        stats.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_stats")
        .start()
    )
    _drain(q)
    out = spark.sql("SELECT * FROM sv_stats").toPandas()
    assert len(out) == 100  # 2000 rows · 30s = 1000 min → 100 ten-minute windows
    assert np.isclose(out["n_rows"].sum(), 2000)
    assert (out["value__missing_rate"] == 0).all()
    assert out["value__avg"].between(8, 12).all()


def test_streaming_violations_and_thresholds(spark, stream_dir):
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    v = streaming_violations(stream, "fmt", domain=["jpeg", "png"])
    q = v.writeStream.outputMode("append").format("memory").queryName("sv_viol").start()
    _drain(q)
    out = spark.sql("SELECT * FROM sv_viol").toPandas()
    assert len(out) > 0
    assert set(out["fmt"]) == {"bmp"}
    assert set(out["violation_kind"]) == {"unseen_value"}

    stream2 = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    stats = streaming_column_stats(stream2, "ts", ["value"], window_duration="10 minutes")
    alerted = attach_thresholds(stats, {"value": (9.0, 11.0)})
    q2 = alerted.writeStream.outputMode("complete").format("memory").queryName("sv_alert").start()
    _drain(q2)
    out2 = spark.sql("SELECT * FROM sv_alert").toPandas()
    assert "value__alert" in out2.columns
    assert out2["value__alert"].dtype == bool


def test_running_group_stats_stateful(spark, tmp_path):
    """applyInPandasWithState: state persists ACROSS micro-batches — the
    running stats after two single-file triggers equal the full-data stats."""
    from spark_validate.streaming import running_group_stats

    rng = np.random.default_rng(7)
    parts = []
    for i in range(2):
        pdf = pd.DataFrame(
            {
                "ts": pd.date_range("2024-01-01", periods=500, freq="s"),
                "value": rng.normal(5 + i, 1.5, 500),
                "fmt": rng.choice(["jpeg", "png"], 500),
            }
        )
        parts.append(pdf)
        spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / "in2"))
    full = pd.concat(parts, ignore_index=True)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force >= 2 micro-batches
        .parquet(str(tmp_path / "in2"))
    )
    stats = running_group_stats(stream, "fmt", "value")
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName("sv_running")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM sv_running").toPandas()
    # update mode emits one row per (group, trigger); the LAST row per group
    # carries the full running state
    last = out.groupby("group").last()
    assert int(last["n"].sum()) == len(full)
    for g in ("jpeg", "png"):
        want = full[full.fmt == g]["value"]
        assert int(last.loc[g, "n"]) == len(want)
        assert np.isclose(last.loc[g, "mean"], want.mean(), atol=1e-9)
        assert np.isclose(last.loc[g, "std"], want.std(ddof=0), atol=1e-9)
        assert np.isclose(last.loc[g, "min"], want.min())
        assert np.isclose(last.loc[g, "max"], want.max())
    # statefulness evidence: at least one group emitted in >1 trigger with
    # growing n
    multi = out.groupby("group")["n"].nunique()
    assert (multi >= 2).any()


def test_running_group_stats_with_ttl(spark, tmp_path):
    """ttl_ms wires ProcessingTimeTimeout state eviction; stats stay exact
    while the TTL is not hit within a drain."""
    from spark_validate.streaming import running_group_stats

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=400, freq="s"),
            "value": rng.normal(0, 1, 400),
            "fmt": rng.choice(["a", "b"], 400),
        }
    )
    spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "in3")
    )
    stream = spark.readStream.schema(SCHEMA).parquet(str(tmp_path / "in3"))
    stats = running_group_stats(stream, "fmt", "value", ttl_ms=60_000)
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName("sv_ttl")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    # processAllAvailable can block indefinitely under ProcessingTimeTimeout
    # (the engine keeps scheduling timeout batches) — poll the sink instead
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline:
        got = spark.sql("SELECT DISTINCT group FROM sv_ttl").count()
        if got >= 2:
            break
        _time.sleep(1)
    q.stop()
    out = spark.sql("SELECT * FROM sv_ttl").toPandas().groupby("group").last()
    for g in ("a", "b"):
        want = pdf[pdf.fmt == g]["value"]
        assert int(out.loc[g, "n"]) == len(want)
        assert np.isclose(out.loc[g, "mean"], want.mean(), atol=1e-9)


def test_streaming_image_payload_checks_foreachbatch(spark, tmp_path):
    """Axes integration: the image payload operators run per micro-batch via
    foreachBatch — the incremental form of the north-rule payload check (the
    windowed aggs handle chunk metrics; payload decode is per-row work that
    composes with any batch granularity)."""
    from spark_validate.image import decode_pixel_stats, synth_image_table

    img = synth_image_table(spark, 300, n_partitions=3, dup_rate=0.0, orphan_rate=0.0)
    src = str(tmp_path / "img_stream")
    img.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(img.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    seen = []

    def per_batch(df, epoch_id):
        stats = decode_pixel_stats(df, partitions=2)
        row = stats.agg(
            F.count(F.lit(1)).alias("rows"), F.min("decode_ok").alias("all_ok")
        ).first()
        if row["rows"]:
            seen.append((row["rows"], bool(row["all_ok"])))

    q = stream.writeStream.foreachBatch(per_batch).start()
    q.processAllAvailable()
    q.stop()
    assert sum(r for r, _ in seen) == 300
    assert len(seen) >= 2  # maxFilesPerTrigger=1 → several micro-batches
    assert all(ok for _, ok in seen)


def test_streaming_drift_matches_batch(spark, tmp_path):
    """A fitted UnivariateDriftCalculator compiled to a streaming query must
    produce per-window JS/Hellinger/PSI/TVD/KL equal to the batch path
    (rtol 1e-12: the two sum bins in different orders) with the matching
    period chunker (a tumbling window IS a period chunk)."""
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.drift import UnivariateDriftCalculator
    from spark_validate.streaming import streaming_univariate_drift

    rng = np.random.default_rng(21)
    n = 6000
    ts = pd.date_range("2024-03-01", periods=n, freq="6s")  # 10 hours
    drifted = np.arange(n) >= n // 2
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "x": rng.normal(0, 1, n) + np.where(drifted, 1.2, 0.0),
            "fmt": np.where(
                rng.uniform(0, 1, n) < np.where(drifted, 0.4, 0.05), "png", "jpeg"
            ),
        }
    )
    ref = pdf.iloc[: n // 3]
    ana = pdf.iloc[n // 3 :]
    calc = UnivariateDriftCalculator(
        column_names=["x", "fmt"],
        continuous_methods=["jensen_shannon", "hellinger", "psi", "tvd", "kl"],
        categorical_methods=["jensen_shannon", "psi", "tvd", "kl"],
        chunker=PeriodBasedChunker(offset="H", timestamp_column="ts"),
    ).fit(spark.createDataFrame(ref))

    # batch values per hourly chunk
    batch = calc.calculate(spark.createDataFrame(ana)).toPandas()
    calc.release_cache()

    # same analysis rows through the streaming compilation
    src = str(tmp_path / "drift_stream")
    spark.createDataFrame(ana).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_univariate_drift(stream, calc, "ts", window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_drift")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    stream_res = spark.sql("SELECT * FROM sv_drift").toPandas()

    b = batch.set_index([batch["start_ts"].dt.floor("h"), "column_name", "method"])["value"]
    s = stream_res.set_index(
        [pd.to_datetime(stream_res["window_start"]), "column_name", "method"]
    )["value"]
    joined = pd.concat([b.rename("batch"), s.rename("stream")], axis=1).dropna()
    assert len(joined) == len(s)  # every streamed cell has a batch twin
    assert len(joined) >= 7 * 5  # ~7 analysis hours × 5 (column, method) pairs
    np.testing.assert_allclose(joined["batch"], joined["stream"], rtol=1e-12)
    # alerts agree too
    ba = batch.set_index([batch["start_ts"].dt.floor("h"), "column_name", "method"])["alert"]
    sa = stream_res.set_index(
        [pd.to_datetime(stream_res["window_start"]), "column_name", "method"]
    )["alert"]
    agree = pd.concat([ba.rename("b"), sa.rename("s")], axis=1).dropna()
    assert (agree["b"].astype(bool) == agree["s"].astype(bool)).all()


def test_streaming_drift_rejects_unstreamable_method_set(spark):
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.drift import UnivariateDriftCalculator
    from spark_validate.streaming import streaming_univariate_drift

    pdf = pd.DataFrame({"ts": pd.date_range("2024-01-01", periods=200, freq="min"), "x": np.arange(200.0)})
    calc = UnivariateDriftCalculator(
        column_names=["x"],
        continuous_methods=["kolmogorov_smirnov"],
        chunker=PeriodBasedChunker(offset="H", timestamp_column="ts"),
    ).fit(spark.createDataFrame(pdf))
    stream = spark.readStream.format("rate").load().withColumnRenamed("value", "x")
    with pytest.raises(ValueError, match="no streamable methods"):
        streaming_univariate_drift(stream.withColumnRenamed("timestamp", "ts"), calc, "ts")


def test_run_streaming_suite_end_to_end(spark, tmp_path):
    """Config-driven streaming suite: stats windows + violation rows + drift
    land in parquet sinks with checkpoints; batch-fitted thresholds alert."""
    from spark_validate.streaming.runner import run_streaming_suite

    rng = np.random.default_rng(5)
    n = 4000
    ts = pd.date_range("2024-05-01", periods=n, freq="9s")  # 10 hours
    drifted = np.arange(n) >= n // 2
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "w": rng.normal(100, 10, n) + np.where(drifted, 60, 0),
            "fmt": np.where(rng.uniform(0, 1, n) < 0.01, "bmp", "jpeg"),
            "phash": np.where(
                drifted,
                rng.integers(0, 1 << 40, n) % 128,  # drifted half: narrow band
                rng.integers(0, 1 << 40, n),
            ),
        }
    )
    ref_dir = str(tmp_path / "ref")
    stream_dir = str(tmp_path / "stream")
    out_dir = str(tmp_path / "out")
    spark.createDataFrame(pdf.iloc[: n // 4]).write.mode("overwrite").parquet(ref_dir)
    spark.createDataFrame(pdf.iloc[n // 4 :]).write.mode("overwrite").parquet(stream_dir)

    cfg = {
        "output_dir": out_dir,
        "reference": ref_dir,
        "stream": stream_dir,
        "timestamp_column": "ts",
        "window": "1 hour",
        "watermark": "0 seconds",
        "checks": [
            {"type": "column_stats", "columns": ["w"]},
            {"type": "domain", "columns": ["fmt"], "domain": ["jpeg", "png"]},
            {"type": "drift", "columns": ["w"], "continuous_methods": ["jensen_shannon", "psi"]},
            {"type": "phash_drift", "n_bins": 16},
        ],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
        # push the watermark past every real window so append-mode aggs emit
        sentinel = pdf.iloc[-1:].copy()
        sentinel["ts"] = sentinel["ts"] + pd.Timedelta(hours=12)
        spark.createDataFrame(sentinel).write.mode("append").parquet(stream_dir)
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()

    stats = spark.read.parquet(f"{out_dir}/column_stats__w").toPandas()
    assert len(stats) >= 7  # ~7.5 streamed hours of windows
    assert stats["w__alert"].any()  # +60 shift blows the 3σ fitted band
    viol = spark.read.parquet(f"{out_dir}/domain__fmt").toPandas()
    assert (viol["violation_kind"] == "unseen_value").all()
    assert len(viol) > 0
    drift = spark.read.parquet(f"{out_dir}/drift__w").toPandas()
    assert set(drift["method"]) == {"jensen_shannon", "psi"}
    late = drift[pd.to_datetime(drift["window_start"]).dt.hour >= 5]
    assert late["alert"].any()  # drifted half alerts
    ph = spark.read.parquet(f"{out_dir}/phash_drift__phash").toPandas()
    assert set(ph["method"]) == {"psi_width_bucket"}
    ph_late = ph[pd.to_datetime(ph["window_start"]).dt.hour >= 6]
    ph_early = ph[pd.to_datetime(ph["window_start"]).dt.hour.isin([2, 3, 4])]
    assert ph_late["alert"].any() and not ph_early["alert"].any()
    # checkpoints exist → restart-safe sinks
    assert (tmp_path / "out" / "_checkpoints" / "column_stats__w").exists()


def test_streaming_unseen_check(spark, tmp_path):
    from spark_validate.streaming.runner import run_streaming_suite

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-06-01", periods=600, freq="min"),
            "fmt": ["jpeg", "png"] * 300,
        }
    )
    ana = pdf.copy()
    ana.loc[ana.index[::50], "fmt"] = "heic"  # 12 unseen rows
    ref_dir, stream_dir, out_dir = (str(tmp_path / x) for x in ("r", "s", "o"))
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(ref_dir)
    spark.createDataFrame(ana).write.mode("overwrite").parquet(stream_dir)
    qs = run_streaming_suite(
        spark,
        {
            "output_dir": out_dir,
            "reference": ref_dir,
            "stream": stream_dir,
            "timestamp_column": "ts",
            "checks": [{"type": "unseen", "columns": ["fmt"]}],
        },
    )
    try:
        for q in qs.values():
            q.processAllAvailable()
    finally:
        for q in qs.values():
            q.stop()
    v = spark.read.parquet(f"{out_dir}/unseen__fmt").toPandas()
    assert len(v) == 12
    assert (v["fmt"] == "heic").all()


def test_streaming_multi_column_checks_get_distinct_checkpoints(spark, tmp_path):
    """Two columns in one violation check must start two queries with
    DISTINCT sink paths + checkpoints (a shared checkpointLocation makes the
    second query adopt the first's id and collide)."""
    from spark_validate.streaming.runner import run_streaming_suite

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-07-01", periods=200, freq="min"),
            "fmt": ["jpeg"] * 190 + ["bmp"] * 10,
            "codec": ["h264"] * 195 + ["av1"] * 5,
        }
    )
    d = {k: str(tmp_path / k) for k in ("r", "s", "o")}
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(d["r"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(d["s"])
    qs = run_streaming_suite(
        spark,
        {
            "output_dir": d["o"],
            "reference": d["r"],
            "stream": d["s"],
            "timestamp_column": "ts",
            "checks": [{"type": "domain", "columns": ["fmt", "codec"], "domain": ["jpeg", "h264"]}],
        },
    )
    try:
        assert set(qs) == {"domain__fmt", "domain__codec"}
        for q in qs.values():
            q.processAllAvailable()
    finally:
        for q in qs.values():
            q.stop()
    assert spark.read.parquet(f"{d['o']}/domain__fmt").count() == 10
    assert spark.read.parquet(f"{d['o']}/domain__codec").count() == 5


def test_streaming_drift_all_null_window_yields_null(spark, tmp_path):
    """An hour where the column is entirely null (upstream outage) must emit
    NULL drift values and no alert — not 'JS 0' or a spurious PSI spike."""
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.drift import UnivariateDriftCalculator
    from spark_validate.streaming import streaming_univariate_drift

    rng = np.random.default_rng(31)
    ref = pd.DataFrame(
        {"ts": pd.date_range("2024-08-01", periods=2000, freq="6s"), "x": rng.normal(0, 1, 2000)}
    )
    ana = pd.DataFrame(
        {"ts": pd.date_range("2024-08-02", periods=1200, freq="6s"), "x": rng.normal(0, 1, 1200)}
    )
    ana.loc[ana["ts"].dt.hour == 1, "x"] = np.nan  # hour-long outage
    calc = UnivariateDriftCalculator(
        column_names=["x"],
        continuous_methods=["jensen_shannon", "psi"],
        chunker=PeriodBasedChunker(offset="H", timestamp_column="ts"),
    ).fit(spark.createDataFrame(ref))
    src = str(tmp_path / "nullwin")
    spark.createDataFrame(ana).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_univariate_drift(stream, calc, "ts", window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_nullwin")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    res = spark.sql("SELECT * FROM sv_nullwin").toPandas()
    calc.release_cache()
    dead = res[pd.to_datetime(res["window_start"]).dt.hour == 1]
    live = res[pd.to_datetime(res["window_start"]).dt.hour != 1]
    assert len(dead) == 2  # both methods emit a row for the window
    assert dead["value"].isna().all()
    assert not dead["alert"].any()
    assert live["value"].notna().all()


def test_streaming_twin_checks_same_column_get_distinct_checkpoints(spark, tmp_path):
    """Two checks of one kind over the SAME column (e.g. two domain checks
    with different domains) must not share a sink/checkpointLocation — the
    second start() would adopt the first query's checkpoint. A user-supplied
    ``name`` field is honored; otherwise the check index disambiguates."""
    from spark_validate.streaming.runner import run_streaming_suite

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-07-01", periods=100, freq="min"),
            "fmt": ["jpeg"] * 90 + ["bmp"] * 10,
        }
    )
    d = {k: str(tmp_path / k) for k in ("r", "s", "o")}
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(d["r"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(d["s"])
    qs = run_streaming_suite(
        spark,
        {
            "output_dir": d["o"],
            "reference": d["r"],
            "stream": d["s"],
            "timestamp_column": "ts",
            "checks": [
                {"type": "domain", "columns": ["fmt"], "domain": ["jpeg", "bmp"]},
                {"type": "domain", "columns": ["fmt"], "domain": ["jpeg"]},
                {"type": "domain", "columns": ["fmt"], "domain": ["bmp"], "name": "bmp_only"},
            ],
        },
    )
    try:
        assert set(qs) == {"domain__fmt", "domain__fmt__1", "bmp_only__fmt"}
        for q in qs.values():
            q.processAllAvailable()
    finally:
        for q in qs.values():
            q.stop()
    assert spark.read.parquet(f"{d['o']}/domain__fmt").count() == 0
    assert spark.read.parquet(f"{d['o']}/domain__fmt__1").count() == 10
    assert spark.read.parquet(f"{d['o']}/bmp_only__fmt").count() == 90


def test_running_group_stats_event_time_eviction_and_fresh_restart(spark, tmp_path):
    """Watermark-driven state eviction (EventTimeTimeout): a group whose
    newest event falls behind (watermark − event_ttl) is evicted — final row
    emitted, five scalars dropped — and the SAME key re-appearing later
    starts fresh (n counts only post-eviction rows). This is what keeps
    keyed running stats bounded over an unbounded keyspace."""
    import os as _os
    import time as _time

    from spark_validate.streaming import running_group_stats

    base = pd.Timestamp("2024-01-01 00:00:00")
    # batch 1: groups a+b at t0
    b1 = pd.DataFrame(
        {
            "ts": [base] * 6,
            "value": [1.0, 2.0, 3.0, 10.0, 20.0, 30.0],
            "fmt": ["a", "a", "a", "b", "b", "b"],
        }
    )
    # batch 2: only b, 3 hours later → the watermark (applied from the NEXT
    # batch on) advances past a's timeout
    b2 = pd.DataFrame(
        {"ts": [base + pd.Timedelta(hours=3)] * 2, "value": [40.0, 50.0], "fmt": ["b", "b"]}
    )
    # batch 3: still only b — a has NO data in this batch, so its timeout
    # fires here (a timed-out key that receives data in the same batch is
    # just updated, not evicted — timeouts only fire for silent keys)
    b2b = pd.DataFrame(
        {"ts": [base + pd.Timedelta(hours=3, minutes=30)], "value": [60.0], "fmt": ["b"]}
    )
    # batch 4: a re-appears at t0+4h → must restart fresh
    b3 = pd.DataFrame(
        {"ts": [base + pd.Timedelta(hours=4)] * 2, "value": [100.0, 200.0], "fmt": ["a", "a"]}
    )
    src = str(tmp_path / "evict_in")
    _os.makedirs(src)
    for i, pdf in enumerate([b1, b2, b2b, b3]):
        f = str(tmp_path / f"part_{i}.parquet")
        spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode("overwrite").parquet(f)
        # one visible file per micro-batch, in order (source sorts by mtime)
        for name in _os.listdir(f):
            if name.endswith(".parquet"):
                dst = _os.path.join(src, f"b{i}.parquet")
                _os.rename(_os.path.join(f, name), dst)
                _os.utime(dst, (1700000000 + i * 10, 1700000000 + i * 10))

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    stats = running_group_stats(
        stream, "fmt", "value", event_time_col="ts", watermark="1 minute", event_ttl="1 hour"
    )
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName("sv_evict")
        .option("checkpointLocation", str(tmp_path / "ckpt_evict"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM sv_evict").toPandas()
    a_ns = out[out.group == "a"]["n"].tolist()
    # a: batch1 row (n=3), final eviction row (n=3), fresh restart (n=2) —
    # NOT n=5, which would mean the evicted state leaked back
    assert a_ns.count(3) >= 1
    assert a_ns[-1] == 2, a_ns
    a_last = out[out.group == "a"].iloc[-1]
    assert np.isclose(a_last["mean"], 150.0)
    assert np.isclose(a_last["min"], 100.0)
    # b stayed live the whole time: running n reaches 6 with exact stats
    b_last = out[out.group == "b"].sort_values("n").iloc[-1]
    assert int(b_last["n"]) == 6
    assert np.isclose(b_last["mean"], np.mean([10, 20, 30, 40, 50, 60]))


def test_streaming_suite_mmd_calibration_binshift_kinds(spark, tmp_path):
    """The three reference-fitted drift kinds with tested streaming
    builders are reachable from config (they previously fell through to
    the false 'batch-only' error)."""
    from spark_validate.streaming.runner import run_streaming_suite

    rng = np.random.default_rng(11)
    n = 1200
    ts = pd.date_range("2024-05-01", periods=n, freq="30s")  # 10 hours
    drifted = np.arange(n) >= n // 2
    score = rng.uniform(0, 1, n)
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "y_true": (rng.uniform(0, 1, n) < np.where(drifted, score * 0.4, score)).astype(int),
            "score": score,
            "x": rng.normal(0, 1, n) + np.where(drifted, 2.5, 0.0),
            "embedding": [list(map(float, r)) for r in
                          rng.standard_normal((n, 8)) + np.where(drifted, 1.5, 0.0)[:, None]],
        }
    )
    ref_dir, stream_dir, out_dir = (str(tmp_path / d) for d in ("ref", "stream", "out"))
    spark.createDataFrame(pdf.iloc[: n // 4]).write.mode("overwrite").parquet(ref_dir)
    spark.createDataFrame(pdf.iloc[n // 4 :]).write.mode("overwrite").parquet(stream_dir)
    cfg = {
        "output_dir": out_dir,
        "reference": ref_dir,
        "stream": stream_dir,
        "timestamp_column": "ts",
        "window": "1 hour",
        "watermark": "0 seconds",
        "checks": [
            {"type": "mmd_drift", "column": "embedding", "n_features": 16, "mmd_threshold": 0.05},
            {"type": "calibration_drift", "y_pred_proba": "score", "bin_count": 5},
            {"type": "bin_shift", "columns": ["x"], "n_bins": 8},
        ],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
        sentinel = pdf.iloc[-1:].copy()
        sentinel["ts"] = sentinel["ts"] + pd.Timedelta(hours=12)
        spark.createDataFrame(sentinel).write.mode("append").parquet(stream_dir)
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    mmd = spark.read.parquet(f"{out_dir}/mmd_drift__embedding").toPandas()
    late = mmd[pd.to_datetime(mmd["window_start"]).dt.hour >= 6]
    assert late["alert"].any()  # the +1.5 mean shift is a kernel-visible drift
    cal = spark.read.parquet(f"{out_dir}/calibration_drift__score").toPandas()
    cal_late = cal[pd.to_datetime(cal["window_start"]).dt.hour >= 6]
    assert cal_late["alert"].any()  # the 0.4x label rate breaks calibration
    bs = spark.read.parquet(f"{out_dir}/bin_shift__x").toPandas()
    bs_late = bs[pd.to_datetime(bs["window_start"]).dt.hour >= 6]
    assert bs_late["alert"].any()  # the +2.5 shift moves bin mass


def test_streaming_payload_check(spark, tmp_path):
    """North-rule payload checks on a stream: stateless Arrow decode per
    micro-batch; decode failures land in the violations sink."""
    from spark_validate.image.synth import synth_image_table
    from spark_validate.streaming.runner import run_streaming_suite

    pdf = synth_image_table(spark, 400, n_partitions=4).toPandas()
    pdf["ts"] = pd.date_range("2024-06-01", periods=len(pdf), freq="1s")
    ref = pdf.iloc[:200]
    ana = pdf.iloc[200:].copy()
    bad_ids = set(ana["image_id"].iloc[:7])
    ana.loc[ana.index[:7], "bytes"] = [b"corrupt" for _ in range(7)]  # undecodable

    ref_dir, stream_dir, out_dir = (str(tmp_path / d) for d in ("ref", "stream", "out"))
    spark.createDataFrame(ref).write.mode("overwrite").parquet(ref_dir)
    spark.createDataFrame(ana).write.mode("overwrite").parquet(stream_dir)

    cfg = {
        "output_dir": out_dir,
        "reference": ref_dir,
        "stream": stream_dir,
        "timestamp_column": "ts",
        "checks": [{"type": "payload", "reference_sample": 100}],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    v = spark.read.parquet(f"{out_dir}/payload").toPandas()
    fails = v[v["violation_kind"] == "decode_failure"]
    assert set(fails["image_id"]) == bad_ids
    # the event-time column rides through the Arrow decode so violation
    # rows can be placed in time, like every other violation kind
    assert "ts" in v.columns and v["ts"].notna().all()
    # the healthy tail may graze a 100-sample 3σ band; decode failures must
    # not be drowned out by it
    assert (v["violation_kind"] == "pixel_stat_out_of_range").sum() <= 3


def test_streaming_decontamination_check(spark, tmp_path):
    """Corpus ingest stream validated against a static benchmark in-flight:
    verbatim benchmark copies land in the violations sink with rate 1.0;
    clean docs never enter the aggregate (semi-join drops them)."""
    from spark_validate.streaming.runner import run_streaming_suite

    bench_rows = []
    for i in range(5):
        bench_rows.append((1000 + i, " ".join(f"b{i}t{j}" for j in range(20))))
    bench = pd.DataFrame(bench_rows, columns=["doc_id", "text"])

    stream_rows = []
    for i in range(60):
        if i < 4:  # planted verbatim copies of benchmark docs
            text = bench.iloc[i]["text"]
        else:
            text = " ".join(f"c{i}t{j}" for j in range(20))
        stream_rows.append((i, text))
    ana = pd.DataFrame(stream_rows, columns=["doc_id", "text"])
    ana["ts"] = pd.date_range("2024-06-01", periods=len(ana), freq="1s")

    bench_dir, stream_dir, out_dir = (str(tmp_path / d) for d in ("bench", "stream", "out"))
    spark.createDataFrame(bench).write.mode("overwrite").parquet(bench_dir)
    spark.createDataFrame(ana).write.mode("overwrite").parquet(stream_dir)

    cfg = {
        "output_dir": out_dir,
        "stream": stream_dir,
        "stream_schema_from": stream_dir,
        "timestamp_column": "ts",
        "window": "1 minute",
        "watermark": "0 seconds",
        "checks": [
            {
                "type": "decontamination",
                "column": "text",
                "id_column": "doc_id",
                "benchmark": bench_dir,
                "n": 5,
                "threshold": 0.5,
            }
        ],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
        # push the watermark past every real window so append-mode aggs emit
        sentinel = ana.iloc[-1:].copy()
        sentinel["ts"] = sentinel["ts"] + pd.Timedelta(hours=2)
        spark.createDataFrame(sentinel).write.mode("append").parquet(stream_dir)
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    v = spark.read.parquet(f"{out_dir}/decontamination").toPandas()
    assert set(v["row_id"].astype(int)) == {0, 1, 2, 3}
    assert (v["overlap_rate"] == 1.0).all()
    assert (v["violation_kind"] == "benchmark_contamination").all()


def test_streaming_payload_header_check(spark, tmp_path):
    """Structural header triage in-flight: planted magic corruption and
    header/metadata dim disagreement land in the violations sink from pure
    column expressions — no decode, no state, no watermark."""
    from spark_validate.image.synth import synth_image_table
    from spark_validate.streaming.runner import run_streaming_suite

    pdf = synth_image_table(
        spark, 400, n_partitions=4, dup_rate=0.0, orphan_rate=0.0,
        corrupt_magic_rate=0.02, dim_mismatch_rate=0.02, seed=9,
    ).toPandas()
    pdf["ts"] = pd.date_range("2024-06-01", periods=len(pdf), freq="1s")
    stream_dir, out_dir = (str(tmp_path / d) for d in ("stream", "out"))
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(stream_dir)

    cfg = {
        "output_dir": out_dir,
        "stream": stream_dir,
        "timestamp_column": "ts",
        "checks": [{"type": "payload_header"}],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    v = spark.read.parquet(f"{out_dir}/payload_header").toPandas()
    assert set(v["violation_kind"]) == {"magic_mismatch", "dim_mismatch"}
    assert v.loc[v.violation_kind == "magic_mismatch", "observed_value"].str.startswith("DEADBEEF").all()
    # every flagged row is real: recompute the batch verdicts over the same
    # parquet and compare the flagged id sets
    from pyspark.sql import functions as F

    from spark_validate.image.header import header_issue_expr, svi0_specs
    from spark_validate.image.synth import FMTS, UNSEEN_FMT

    batch = spark.read.parquet(stream_dir)
    issue = header_issue_expr(
        F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h"),
        svi0_specs([*FMTS, UNSEEN_FMT]),
    )
    expected = {
        r["image_id"]
        for r in batch.select("image_id", issue.alias("i")).filter(F.col("i").isNotNull()).collect()
    }
    assert set(v["row_id"]) == expected and len(expected) > 0


def test_streaming_schema_check(spark, tmp_path):
    """Schema contract on a stream: a broken contract refuses to start; a
    valid one streams required-null violations statelessly."""
    import pytest

    from spark_validate.streaming.runner import run_streaming_suite

    pdf = pd.DataFrame(
        {
            "image_id": [f"i{k}" if k % 9 else None for k in range(90)],
            "w": list(range(90)),
        }
    )
    pdf["ts"] = pd.date_range("2024-06-01", periods=len(pdf), freq="1s")
    stream_dir, out_dir = (str(tmp_path / d) for d in ("stream", "out"))
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(stream_dir)

    base = {
        "output_dir": out_dir,
        "stream": stream_dir,
        "timestamp_column": "ts",
    }
    # metadata break → the suite refuses to start the query
    with pytest.raises(ValueError, match="schema"):
        run_streaming_suite(
            spark,
            dict(base, checks=[{"type": "schema", "expected": {"image_id": "int"}}]),
        )

    cfg = dict(
        base,
        checks=[
            {
                "type": "schema",
                "expected": {"image_id": "string", "w": "bigint", "ts": "timestamp"},
                "required": ["image_id"],
            }
        ],
    )
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    v = spark.read.parquet(f"{out_dir}/schema").toPandas()
    assert len(v) == 10  # k % 9 == 0 for k in 0..89
    assert (v["violation_kind"] == "required_null").all()


def test_streaming_pii_and_url_checks(spark, tmp_path):
    """PII + blocked-domain scrubbing on the ingest stream: stateless codegen
    filters (no state, no watermark) land offending docs in the violation
    sinks with kind-named rows; clean docs never appear."""
    from spark_validate.streaming.runner import run_streaming_suite

    rows = []
    for i in range(40):
        if i in (3, 17):
            text = f"mail me at user{i}@leak.example thanks"
        elif i == 9:
            text = "ssn 123-45-6789 and server 10.0.0.9"
        elif i in (5, 25):
            text = f"img http://cdn.tracker.net/{i}.png here"
        else:
            text = f"doc {i} says nothing sensitive"
        rows.append((i, text))
    ana = pd.DataFrame(rows, columns=["doc_id", "text"])
    ana["ts"] = pd.date_range("2024-06-01", periods=len(ana), freq="1s")
    stream_dir, out_dir = (str(tmp_path / d) for d in ("stream", "out"))
    spark.createDataFrame(ana).write.mode("overwrite").parquet(stream_dir)

    cfg = {
        "output_dir": out_dir,
        "stream": stream_dir,
        "stream_schema_from": stream_dir,
        "timestamp_column": "ts",
        "window": "1 minute",
        "checks": [
            {"type": "pii", "column": "text", "id_column": "doc_id"},
            {
                "type": "url_blocklist",
                "column": "text",
                "id_column": "doc_id",
                "domains": ["tracker.net"],
            },
        ],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()

    pii = spark.read.parquet(f"{out_dir}/pii").toPandas()
    assert set(pii["row_id"].astype(int)) == {3, 17, 9}
    kinds = dict(zip(pii["row_id"].astype(int), pii["violation_kind"]))
    assert kinds[3] == "pii_email"
    assert kinds[9] == "pii_ipv4 pii_ssn"  # multi-kind doc names every kind

    urls = spark.read.parquet(f"{out_dir}/url_blocklist").toPandas()
    assert set(urls["row_id"].astype(int)) == {5, 25}
    assert (urls["observed_value"] == "cdn.tracker.net").all()


def test_streaming_lm_matches_batch(spark, tmp_path):
    """Streaming lm_quality: the stateless per-micro-batch scorer
    (score_texts dict-lookup path) must equal the batch join path to 1e-12
    on the same docs, and the violation stream names exactly the docs the
    batch check's doc-level bound flags."""
    from spark_validate.streaming.runner import run_streaming_suite
    from spark_validate.text.lm import LMQualityCheck, NgramLMQuality

    normal = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(60):
        text = normal if i % 3 != 0 else f"qqz{i} wxv{i} jkp{i} bnm{i}"
        rows.append((i, text))
    ana = pd.DataFrame(rows, columns=["doc_id", "text"])
    ana["ts"] = pd.date_range("2024-06-01", periods=len(ana), freq="1s")
    ref = ana[ana["doc_id"] % 3 != 0]  # fit on the clean docs only
    ref_dir, stream_dir, out_dir = (str(tmp_path / d) for d in ("ref", "stream", "out"))
    spark.createDataFrame(ref).write.mode("overwrite").parquet(ref_dir)
    spark.createDataFrame(ana).write.mode("overwrite").parquet(stream_dir)

    # equality: dict-lookup scorer vs the batch join path
    df = spark.createDataFrame(ana)
    lm = NgramLMQuality().fit(spark.read.parquet(ref_dir))
    batch = {r["doc_id"]: r["cross_entropy"] for r in lm.score(df).collect()}
    stream_scored = lm.score_texts(list(ana["text"]))
    for (doc_id, _t, _ts), (_n, h) in zip(ana.itertuples(index=False), stream_scored):
        if batch[doc_id] is None:
            assert h is None
        else:
            assert abs(batch[doc_id] - h) < 1e-12, doc_id

    cfg = {
        "output_dir": out_dir,
        "stream": stream_dir,
        "stream_schema_from": stream_dir,
        "reference": ref_dir,
        "timestamp_column": "ts",
        "window": "1 minute",
        "checks": [{"type": "lm_quality", "column": "text", "id_column": "doc_id"}],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()

    v = spark.read.parquet(f"{out_dir}/lm_quality").toPandas()
    # batch check's doc-level bound flags exactly the gibberish docs
    from spark_validate.chunking import CountBasedChunker

    chk = LMQualityCheck(
        chunker=CountBasedChunker(chunk_number=2, order_by=["doc_id"])
    ).fit(spark.read.parquet(ref_dir))
    batch_viol = set(
        chk.violations(df.withColumn("ts", F.current_timestamp()))
        .toPandas()["row_id"]
        .astype(int)
    )
    assert set(v["row_id"].astype(int)) == batch_viol
    assert batch_viol == {i for i in range(60) if i % 3 == 0}


def test_streaming_profile_and_uniqueness_checks(spark, tmp_path):
    """Round-4 streaming kinds: zscore_outliers (batch-fitted stateless gate),
    cardinality (windowed HLL++), uniqueness (stateful duplicate-key stream)."""
    from spark_validate.streaming.runner import run_streaming_suite

    rng = np.random.default_rng(7)
    n = 600
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-07-01", periods=n, freq="min"),
            "value": rng.normal(10, 2, n),
            "key": [f"k{i}" for i in range(n)],
        }
    )
    ref = pdf.copy()
    ana = pdf.copy()
    ana.loc[[50, 200, 400], "value"] = 300.0  # z ≫ 6 under the fitted moments
    ana.loc[[100, 130, 160, 190, 220], "key"] = "dupA"  # 5 rows, one key
    ref_dir, stream_dir, out_dir = (str(tmp_path / x) for x in ("r", "s", "o"))
    spark.createDataFrame(ref).write.mode("overwrite").parquet(ref_dir)
    spark.createDataFrame(ana).write.mode("overwrite").parquet(stream_dir)

    qs = run_streaming_suite(
        spark,
        {
            "output_dir": out_dir,
            "reference": ref_dir,
            "stream": stream_dir,
            "timestamp_column": "ts",
            "window": "1 hour",
            "watermark": "0 seconds",
            "checks": [
                {"type": "zscore_outliers", "columns": ["value"], "z": 6.0},
                {"type": "cardinality", "columns": ["key"]},
                {"type": "uniqueness", "keys": ["key"], "id_column": "key"},
            ],
        },
    )
    try:
        for q in qs.values():
            q.processAllAvailable()
        # advance the watermark past every real window so append-mode
        # windowed aggs emit their rows
        sentinel = ana.iloc[-1:].copy()
        sentinel["ts"] = sentinel["ts"] + pd.Timedelta(hours=24)
        sentinel["key"] = "sentinel"  # fresh key: must not trip uniqueness
        spark.createDataFrame(sentinel).write.mode("append").parquet(stream_dir)
        for q in qs.values():
            q.processAllAvailable()
    finally:
        for q in qs.values():
            q.stop()

    z = spark.read.parquet(f"{out_dir}/zscore_outliers__value").toPandas()
    assert len(z) == 3 and (z["violation_kind"] == "zscore_outlier").all()
    assert (z["value"] == 300.0).all()

    card = spark.read.parquet(f"{out_dir}/cardinality__key").toPandas()
    full = card[card["n_rows"] == 60].sort_values("start_ts")
    assert len(full) >= 9  # 10 one-hour windows of 60 rows (+ sentinel window)
    # the dupA rows collapse ~4 distinct keys inside their windows; HLL++
    # stays within its ~5% rsd of the exact per-window count
    exact = (
        ana.assign(w=ana["ts"].dt.floor("h")).groupby("w")["key"].nunique()
    )
    got = dict(zip(full["start_ts"], full["key__approx_distinct"]))
    for w, d in exact.items():
        if w in got:
            assert abs(got[w] - d) <= max(3, 0.06 * d)

    u = spark.read.parquet(f"{out_dir}/uniqueness").toPandas()
    assert len(u) == 4  # 5 occurrences of dupA → 4 violations
    assert (u["violation_kind"] == "duplicate_key").all()
    assert (u["row_id"] == "dupA").all()
    occs = sorted(int(o.split("#")[-1]) for o in u["observed_value"])
    assert occs == [2, 3, 4, 5]


def test_streaming_duplicate_keys_eviction_fresh_restart(spark, tmp_path):
    """EventTimeTimeout eviction for the duplicate-key state: a key silent
    past (watermark − event_ttl) drops its counter, and the SAME key
    re-appearing later is a FRESH first occurrence — occurrences restart at
    2, they don't continue from the evicted count."""
    import os as _os

    from spark_validate.streaming.stateful import streaming_duplicate_keys

    base = pd.Timestamp("2024-01-01 00:00:00")
    mk = lambda ts_list, keys: pd.DataFrame(  # noqa: E731
        {"ts": ts_list, "value": [0.0] * len(keys), "fmt": keys}
    )
    b1 = mk([base] * 3, ["x", "x", "f1"])  # x twice → one violation (occ 2)
    b2 = mk([base + pd.Timedelta(hours=3)] * 2, ["f2", "f3"])  # watermark →3h
    b3 = mk([base + pd.Timedelta(hours=3, minutes=30)], ["f4"])  # x times out
    b4 = mk([base + pd.Timedelta(hours=4)] * 2, ["x", "x"])  # fresh → occ 2
    src = str(tmp_path / "dup_in")
    _os.makedirs(src)
    for i, pdf in enumerate([b1, b2, b3, b4]):
        f = str(tmp_path / f"dpart_{i}.parquet")
        spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode("overwrite").parquet(f)
        for name in _os.listdir(f):
            if name.endswith(".parquet"):
                dst = _os.path.join(src, f"b{i}.parquet")
                _os.rename(_os.path.join(f, name), dst)
                _os.utime(dst, (1700000000 + i * 10, 1700000000 + i * 10))

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    dups = streaming_duplicate_keys(
        stream, ["fmt"], id_col="fmt", event_time_col="ts",
        watermark="1 minute", event_ttl="1 hour",
    )
    q = (
        dups.writeStream.outputMode("append")
        .format("memory")
        .queryName("sv_dups")
        .option("checkpointLocation", str(tmp_path / "ckpt_dups"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM sv_dups").toPandas()
    xs = out[out["row_id"] == "x"].sort_values("ts")
    # evicted between batch 1 and 4: occurrences are [2, 2], NOT [2, 3, 4]
    assert xs["occurrence"].tolist() == [2, 2], out
    assert len(out) == 2  # the filler keys are all unique — no violations


def test_streaming_quantiles(spark, stream_dir):
    """Windowed GK-sketch quantile profile: per-window p50 tracks the batch
    median within sketch tolerance."""
    from spark_validate.streaming.incremental import streaming_quantiles

    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    q = streaming_quantiles(
        stream, "ts", ["value"], quantiles=(0.5, 0.9), window_duration="100 minutes"
    )
    h = (
        q.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_quant")
        .start()
    )
    _drain(h)
    out = spark.sql("SELECT * FROM sv_quant ORDER BY start_ts").toPandas()
    assert len(out) in (10, 11)  # 1000 min of data; epoch-aligned windows may straddle
    assert out["n_rows"].sum() == 2000
    # values ~N(10,2): every window's sketch-median lands near 10, p90 > p50
    assert out["value__p50"].between(8.5, 11.5).all()
    assert (out["value__p90"] > out["value__p50"]).all()


def test_streaming_phash_drift_matches_batch(spark, tmp_path):
    """A fitted PhashHistogramDrift compiled to a streaming query produces
    per-window PSI equal to the batch path over a matching period chunker
    (same pivoted width_bucket counts, same PSI projection)."""
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.image.phash import PhashHistogramDrift
    from spark_validate.streaming import streaming_phash_drift

    n = 4800
    ts = pd.date_range("2024-05-01", periods=n, freq="6s")  # 8 hours
    base = pd.DataFrame({"ts": ts, "image_id": [f"i{i}" for i in range(n)]})
    # deterministic spread; the last ~3 hours concentrate into a narrow band
    h = pd.util.hash_array(base["image_id"].to_numpy(dtype=object)).astype("int64")
    base["phash"] = np.abs(h) % (1 << 40)
    drifted = np.arange(n) >= 5 * n // 8
    base.loc[drifted, "phash"] = base.loc[drifted, "phash"] % 128

    ref = base.iloc[: n // 4]
    ana = base.iloc[n // 4 :]
    calc = PhashHistogramDrift(
        n_bins=16,  # ~600 rows/hour: 16 bins keeps baseline PSI noise well under the 0.2 line
        chunker=PeriodBasedChunker(offset="H", timestamp_column="ts"),
    ).fit(spark.createDataFrame(ref))

    batch = calc.calculate(spark.createDataFrame(ana)).toPandas()

    src = str(tmp_path / "phash_stream")
    spark.createDataFrame(ana).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_phash_drift(stream, calc, "ts", window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_phash_drift")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    stream_res = spark.sql("SELECT * FROM sv_phash_drift").toPandas()

    b = batch.set_index(batch["start_ts"].dt.floor("h"))["value"]
    s = stream_res.set_index(pd.to_datetime(stream_res["window_start"]))["value"]
    joined = pd.concat([b.rename("batch"), s.rename("stream")], axis=1).dropna()
    assert len(joined) == len(s) >= 6
    np.testing.assert_allclose(joined["batch"], joined["stream"], rtol=1e-12)
    # drifted hours alert through the same 0.2 PSI line in both paths
    sa = stream_res.set_index(pd.to_datetime(stream_res["window_start"]))["alert"]
    ba = batch.set_index(batch["start_ts"].dt.floor("h"))["alert"]
    agree = pd.concat([ba.rename("b"), sa.rename("s")], axis=1).dropna()
    assert (agree["b"].astype(bool) == agree["s"].astype(bool)).all()
    assert agree["s"].astype(bool).any() and not agree["s"].astype(bool).all()


def test_streaming_joint_drift_matches_batch(spark, tmp_path):
    """A fitted JointHistogramDrift compiled to a streaming query produces
    per-window joint-JS equal to the batch path over a matching period
    chunker (same pivoted 2-D cell counts, same JS projection)."""
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.drift.joint import JointHistogramDrift
    from spark_validate.streaming import streaming_joint_drift

    n = 4800
    ts = pd.date_range("2024-06-01", periods=n, freq="6s")  # 8 hours
    idx = np.arange(n)
    base = pd.DataFrame({"ts": ts, "x": (idx * 7) % 101, "y": (idx * 13) % 101})
    drifted = idx >= 5 * n // 8  # last 3 streamed hours collapse onto y = x
    base.loc[drifted, "y"] = base.loc[drifted, "x"]

    ref = base.iloc[: n // 4]
    ana = base.iloc[n // 4 :]
    calc = JointHistogramDrift(
        "x", "y", chunker=PeriodBasedChunker(offset="H", timestamp_column="ts")
    ).fit(spark.createDataFrame(ref))

    batch = calc.calculate(spark.createDataFrame(ana)).toPandas()

    src = str(tmp_path / "joint_stream")
    spark.createDataFrame(ana).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_joint_drift(stream, calc, "ts", window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_joint_drift")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    stream_res = spark.sql("SELECT * FROM sv_joint_drift").toPandas()
    assert set(stream_res["method"]) == {"joint_jensen_shannon"}
    assert set(stream_res["column_name"]) == {"x+y"}

    b = batch.set_index(batch["start_ts"].dt.floor("h"))["value"]
    s = stream_res.set_index(pd.to_datetime(stream_res["window_start"]))["value"]
    joined = pd.concat([b.rename("batch"), s.rename("stream")], axis=1).dropna()
    assert len(joined) == len(s) >= 6
    np.testing.assert_allclose(joined["batch"], joined["stream"], rtol=1e-12)
    # the diagonal-collapse hours alert in both paths, the clean hours in neither
    sa = stream_res.set_index(pd.to_datetime(stream_res["window_start"]))["alert"]
    ba = batch.set_index(batch["start_ts"].dt.floor("h"))["alert"]
    agree = pd.concat([ba.rename("b"), sa.rename("s")], axis=1).dropna()
    assert (agree["b"].astype(bool) == agree["s"].astype(bool)).all()
    assert agree["s"].astype(bool).any() and not agree["s"].astype(bool).all()


def test_streaming_suite_joint_drift_kind(spark, tmp_path):
    """joint_drift check type through run_streaming_suite: fitted on the
    reference, windowed sink under its own key (no checkpoint collision
    with a preceding drift check)."""
    from spark_validate.streaming.runner import run_streaming_suite

    n = 2400
    ts = pd.date_range("2024-06-02", periods=n, freq="6s")  # 4 hours
    idx = np.arange(n)
    pdf = pd.DataFrame({"ts": ts, "x": (idx * 7) % 101, "y": (idx * 13) % 101})
    drifted = idx >= n // 2
    pdf.loc[drifted, "y"] = pdf.loc[drifted, "x"]
    ref_dir, stream_dir, out_dir = (
        str(tmp_path / "ref"), str(tmp_path / "stream"), str(tmp_path / "out")
    )
    spark.createDataFrame(pdf.iloc[: n // 4]).write.parquet(ref_dir)
    spark.createDataFrame(pdf.iloc[n // 4 :]).write.parquet(stream_dir)
    cfg = {
        "output_dir": out_dir,
        "reference": ref_dir,
        "stream": stream_dir,
        "timestamp_column": "ts",
        "window": "1 hour",
        "watermark": "0 seconds",
        "checks": [
            {"type": "drift", "columns": ["x"], "continuous_methods": ["psi"]},
            {"type": "joint_drift", "column_x": "x", "column_y": "y"},
        ],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
        sentinel = pdf.iloc[-1:].copy()
        sentinel["ts"] = sentinel["ts"] + pd.Timedelta(hours=12)
        spark.createDataFrame(sentinel).write.mode("append").parquet(stream_dir)
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    res = spark.read.parquet(f"{out_dir}/joint_drift__x_y").toPandas()
    assert set(res["method"]) == {"joint_jensen_shannon"}
    late = res[pd.to_datetime(res["window_start"]).dt.hour >= 2]
    early = res[pd.to_datetime(res["window_start"]).dt.hour < 2]
    assert late["alert"].any() and not early["alert"].astype(bool).any()


def test_streaming_caption_conflicts_semantics_and_eviction(spark, tmp_path):
    """Stateful cross-modal gate: the group's first non-null caption is the
    state; later disagreeing rows emit violations with both witnesses; NULL
    captions never vote or conflict; eviction restarts a group fresh."""
    import os as _os

    from spark_validate.streaming.stateful import streaming_caption_conflicts

    CAP_SCHEMA = "ts timestamp, phash long, image_id string, caption string"
    base = pd.Timestamp("2024-01-01 00:00:00")
    mk = lambda rows: pd.DataFrame(  # noqa: E731
        rows, columns=["ts", "phash", "image_id", "caption"]
    )
    # b1: g1 consistent (incl. a NULL that must not conflict); g2 conflicts
    #     in-batch (second row disagrees with the first)
    b1 = mk([
        (base, 1, "a1", "a cat"), (base, 1, "a2", "a cat"), (base, 1, "a3", None),
        (base, 2, "b1", "a dog"), (base, 2, "b2", "two dogs"),
        (base, None, "n1", "x"),
    ])
    # b2: g1 now disagrees with its remembered first caption; watermark → 3h
    b2 = mk([(base + pd.Timedelta(hours=3), 1, "a4", "the cat")])
    # b3 advances the watermark past g1's 4h timeout stamp; b3b is the quiet
    # trigger in which the (now-armed) eviction actually fires — event-time
    # timeouts only fire for groups with NO data in that trigger, and the
    # watermark itself lags one batch
    b3 = mk([(base + pd.Timedelta(hours=5), 9, "z1", "zz")])
    b3b = mk([(base + pd.Timedelta(hours=7), 9, "z2", "zz")])
    # b4: g1 re-appears after eviction with a DIFFERENT caption: fresh first,
    #     the single row cannot conflict with anything
    b4 = mk([(base + pd.Timedelta(hours=8), 1, "a5", "another cat")])

    src = str(tmp_path / "cap_in")
    _os.makedirs(src)
    for i, pdf in enumerate([b1, b2, b3, b3b, b4]):
        f = str(tmp_path / f"cpart_{i}.parquet")
        spark.createDataFrame(pdf, CAP_SCHEMA).coalesce(1).write.mode("overwrite").parquet(f)
        for name in _os.listdir(f):
            if name.endswith(".parquet"):
                dst = _os.path.join(src, f"b{i}.parquet")
                _os.rename(_os.path.join(f, name), dst)
                _os.utime(dst, (1700000000 + i * 10, 1700000000 + i * 10))

    stream = spark.readStream.schema(CAP_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    conf = streaming_caption_conflicts(
        stream, group_col="phash", caption_col="caption", id_col="image_id",
        event_time_col="ts", watermark="1 minute", event_ttl="1 hour",
    )
    q = (
        conf.writeStream.outputMode("append")
        .format("memory")
        .queryName("sv_capconf")
        .option("checkpointLocation", str(tmp_path / "ckpt_capconf"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM sv_capconf").toPandas()
    # exactly two violations: b2 in-batch conflict, a4 cross-batch conflict
    assert sorted(out["row_id"]) == ["a4", "b2"], out
    b2row = out[out["row_id"] == "b2"].iloc[0]
    assert b2row["first_caption"] == "a dog" and b2row["caption"] == "two dogs"
    a4row = out[out["row_id"] == "a4"].iloc[0]
    assert a4row["first_caption"] == "a cat" and a4row["caption"] == "the cat"
    # a5 (post-eviction fresh first) and the NULL caption/group rows are silent


def test_streaming_suite_caption_consistency_kind(spark, tmp_path):
    """caption_consistency check type through run_streaming_suite: conflict
    violation stream lands under its own sink with witness pair."""
    from spark_validate.streaming.runner import run_streaming_suite

    n = 300
    ts = pd.date_range("2024-06-03", periods=n, freq="1min")
    pdf = pd.DataFrame({
        "ts": ts,
        "phash": [i % 10 for i in range(n)],
        "image_id": [f"i{i}" for i in range(n)],
        "caption": [
            f"variant-{i}" if (i % 30 == 7 and i >= 10) else f"caption-{i % 10}"
            for i in range(n)
        ],
    })
    stream_dir, out_dir = str(tmp_path / "stream"), str(tmp_path / "out")
    # single source partition: arrival order within each group is the row
    # order, so "first caption" is deterministic for the assertion below
    spark.createDataFrame(pdf).coalesce(1).write.parquet(stream_dir)
    cfg = {
        "output_dir": out_dir,
        "stream": stream_dir,
        "timestamp_column": "ts",
        "window": "1 hour",
        "watermark": "0 seconds",
        "checks": [
            {
                "type": "caption_consistency",
                "group_column": "phash",
                "caption_column": "caption",
                "id_column": "image_id",
            }
        ],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    res = spark.read.parquet(f"{out_dir}/caption_consistency__phash").toPandas()
    want = {f"i{i}" for i in range(n) if i % 30 == 7 and i >= 10}
    assert set(res["row_id"]) == want
    assert (res["violation_kind"] == "caption_conflict").all()
    assert res["observed_value"].str.contains(" <> variant-").all()


def test_streaming_grouped_drift_matches_batch(spark, tmp_path):
    """A fitted GroupedDriftCalculator compiled to streaming (derive the
    value@group columns on the stream, reuse the fitted inner univariate
    calculator) produces per-window per-group values equal to the batch
    path; only the moved group's windows alert."""
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.drift.grouped import GroupedDriftCalculator
    from spark_validate.streaming import streaming_grouped_drift

    rng = np.random.default_rng(31)
    n = 4800
    ts = pd.date_range("2024-07-01", periods=n, freq="6s")  # 8 hours
    pdf = pd.DataFrame({
        "ts": ts,
        "fmt": np.take(["png", "jpeg"], np.arange(n) % 2),
        "w": rng.normal(100, 10, n),
    })
    drifted = (np.arange(n) >= 5 * n // 8) & (pdf["fmt"] == "png").to_numpy()
    pdf.loc[drifted, "w"] += 50.0  # only png widths move, late hours only

    ref = pdf.iloc[: n // 4]
    ana = pdf.iloc[n // 4 :]
    calc = GroupedDriftCalculator(
        "w", "fmt", categorical_methods=(),
        chunker=PeriodBasedChunker(offset="H", timestamp_column="ts"),
    ).fit(spark.createDataFrame(ref))

    batch = calc.calculate(spark.createDataFrame(ana)).toPandas()

    src = str(tmp_path / "grouped_stream")
    spark.createDataFrame(ana).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_grouped_drift(stream, calc, "ts", window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_grouped_drift")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    calc.release_cache()
    stream_res = spark.sql("SELECT * FROM sv_grouped_drift").toPandas()
    assert set(stream_res["column_name"]) == {"w@png", "w@jpeg"}

    b = batch.set_index([batch["start_ts"].dt.floor("h"), "column_name"])["value"]
    s = stream_res.set_index(
        [pd.to_datetime(stream_res["window_start"]), "column_name"]
    )["value"]
    joined = pd.concat([b.rename("batch"), s.rename("stream")], axis=1).dropna()
    assert len(joined) == len(s) >= 12  # ≥6 windows × 2 groups
    np.testing.assert_allclose(joined["batch"], joined["stream"], rtol=1e-12)
    # alert parity: same thresholds ride both paths
    sa = stream_res.set_index(
        [pd.to_datetime(stream_res["window_start"]), "column_name"]
    )["alert"].astype(bool)
    ba = batch.set_index([batch["start_ts"].dt.floor("h"), "column_name"])["alert"].astype(bool)
    agree = pd.concat([ba.rename("b"), sa.rename("s")], axis=1).dropna()
    assert (agree["b"] == agree["s"]).all()
    # value-level discrimination: the moved group's late windows dominate
    png_late = joined["stream"].loc[
        [i for i in joined.index if i[1] == "w@png" and i[0].hour >= 6]
    ]
    jpeg_all = joined["stream"].loc[[i for i in joined.index if i[1] == "w@jpeg"]]
    assert png_late.min() > 2 * jpeg_all.max()


def test_streaming_vocab_drift_matches_batch(spark, tmp_path):
    """A fitted VocabDriftCheck compiled to a streaming query produces
    per-window OOV rates equal to the batch path over a matching period
    chunker (same token explode + broadcast vocab join + count exprs)."""
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.streaming import streaming_vocab_drift
    from spark_validate.text.vocab import VocabDriftCheck

    n = 2400
    ts = pd.date_range("2024-06-03", periods=n, freq="6s")  # 4 hours
    idx = np.arange(n)
    words = np.where(idx % 3 == 0, "alpha", np.where(idx % 3 == 1, "beta", "gamma"))
    text = pd.Series(words) + " " + pd.Series(words)
    # last 2 streamed hours: every third doc speaks a new dialect
    drifted = (idx >= n // 2) & (idx % 3 == 0)
    text[drifted] = "zeta zeta zeta"
    pdf = pd.DataFrame({"ts": ts, "doc_id": idx, "text": text})
    ref, ana = pdf.iloc[: n // 4], pdf.iloc[n // 4 :]

    calc = VocabDriftCheck(
        top_k=3,
        chunker=PeriodBasedChunker(offset="H", timestamp_column="ts"),
        upper_threshold=0.2,
    ).fit(spark.createDataFrame(ref))
    batch = calc.calculate(spark.createDataFrame(ana)).toPandas()

    src = str(tmp_path / "vocab_stream")
    spark.createDataFrame(ana).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_vocab_drift(stream, calc, "ts", window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_vocab_drift")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    stream_res = spark.sql("SELECT * FROM sv_vocab_drift").toPandas()
    assert set(stream_res["method"]) == {"oov_rate"}
    assert set(stream_res["column_name"]) == {"text"}

    b = batch.set_index(batch["start_ts"].dt.floor("h"))["value"]
    s = stream_res.set_index(pd.to_datetime(stream_res["window_start"]))["value"]
    joined = pd.concat([b.rename("batch"), s.rename("stream")], axis=1).dropna()
    assert len(joined) == len(s) >= 3
    np.testing.assert_allclose(joined["batch"], joined["stream"], rtol=1e-12)
    sa = stream_res.set_index(pd.to_datetime(stream_res["window_start"]))["alert"]
    ba = batch.set_index(batch["start_ts"].dt.floor("h"))["alert"]
    agree = pd.concat([ba.rename("b"), sa.rename("s")], axis=1).dropna()
    assert (agree["b"].astype(bool) == agree["s"].astype(bool)).all()
    assert agree["s"].astype(bool).any() and not agree["s"].astype(bool).all()


def test_streaming_suite_vocab_drift_kind(spark, tmp_path):
    """vocab_drift check type through run_streaming_suite: vocab fitted on
    the reference, windowed OOV sink under its own key."""
    from spark_validate.streaming.runner import run_streaming_suite

    n = 1200
    ts = pd.date_range("2024-06-04", periods=n, freq="6s")  # 2 hours
    idx = np.arange(n)
    text = np.where(idx < n // 2, "alpha beta", "omega psi")
    pdf = pd.DataFrame({"ts": ts, "doc_id": idx, "text": text})
    ref_dir, stream_dir, out_dir = (
        str(tmp_path / "ref"), str(tmp_path / "stream"), str(tmp_path / "out")
    )
    spark.createDataFrame(pdf.iloc[: n // 4]).write.parquet(ref_dir)
    spark.createDataFrame(pdf.iloc[n // 4 :]).write.parquet(stream_dir)
    cfg = {
        "output_dir": out_dir,
        "reference": ref_dir,
        "stream": stream_dir,
        "timestamp_column": "ts",
        "window": "1 hour",
        "watermark": "0 seconds",
        "checks": [
            {"type": "vocab_drift", "column": "text", "top_k": 2, "upper_threshold": 0.5},
        ],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    out = spark.read.parquet(str(tmp_path / "out" / "vocab_drift__text")).toPandas()
    assert len(out) >= 1  # append mode: at least the watermark-closed window
    closed = out.sort_values("window_start")
    assert (closed["method"] == "oov_rate").all()
    # the first streamed hour is in-vocab, the second is all-OOV
    assert closed.iloc[0]["value"] < 0.5 or closed.iloc[-1]["value"] > 0.5


def test_streaming_correlation_drift_matches_batch(spark, tmp_path):
    """A fitted CorrelationDriftCalculator compiled to a streaming query
    produces per-window corr/shift equal to the batch path over a matching
    period chunker (same decimal sums, same double derivation)."""
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.drift.correlation import CorrelationDriftCalculator
    from spark_validate.streaming import streaming_correlation_drift

    n = 4800
    ts = pd.date_range("2024-06-05", periods=n, freq="6s")  # 8 hours
    idx = np.arange(n)
    base = pd.DataFrame({"ts": ts, "x": (idx * 7 % 101).astype(float)})
    base["y"] = base.x * 2 + (idx % 13)
    flipped = idx >= 5 * n // 8  # last 3 streamed hours invert the relationship
    base.loc[flipped, "y"] = -2 * base.loc[flipped, "x"] + (idx[flipped] % 13)

    ref = base.iloc[: n // 4]
    ana = base.iloc[n // 4 :]
    calc = CorrelationDriftCalculator(
        ["x", "y"], chunker=PeriodBasedChunker(offset="H", timestamp_column="ts")
    ).fit(spark.createDataFrame(ref))

    batch = calc.calculate(spark.createDataFrame(ana)).toPandas()

    src = str(tmp_path / "corr_stream")
    spark.createDataFrame(ana).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_correlation_drift(stream, calc, "ts", window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_corr_drift")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    stream_res = spark.sql("SELECT * FROM sv_corr_drift").toPandas()
    assert set(stream_res["method"]) == {"pearson_corr", "corr_shift"}
    assert set(stream_res["column_name"]) == {"x+y"}

    for method in ("pearson_corr", "corr_shift"):
        b = batch[batch.method == method].set_index(batch[batch.method == method]["start_ts"].dt.floor("h"))["value"]
        sm = stream_res[stream_res.method == method]
        s = sm.set_index(pd.to_datetime(sm["window_start"]))["value"]
        joined = pd.concat([b.rename("batch"), s.rename("stream")], axis=1).dropna()
        assert len(joined) == len(s) >= 6
        np.testing.assert_allclose(joined["batch"], joined["stream"], rtol=1e-12)
    # alert parity: flipped hours alert on corr_shift in both paths
    sm = stream_res[stream_res.method == "corr_shift"]
    sa = sm.set_index(pd.to_datetime(sm["window_start"]))["alert"]
    bm = batch[batch.method == "corr_shift"]
    ba = bm.set_index(bm["start_ts"].dt.floor("h"))["alert"]
    ja = pd.concat([ba.rename("batch"), sa.rename("stream")], axis=1).dropna()
    assert ja["batch"].equals(ja["stream"]) and ja["stream"].any() and not ja["stream"].all()


def test_streaming_suite_correlation_drift_kind(spark, tmp_path):
    """correlation_drift check type through run_streaming_suite: fitted on
    the reference, windowed corr/shift sink under its own key."""
    from spark_validate.streaming.runner import run_streaming_suite

    n = 1200
    ts = pd.date_range("2024-06-06", periods=n, freq="6s")  # 2 hours
    idx = np.arange(n)
    pdf = pd.DataFrame({"ts": ts, "x": (idx * 7 % 101).astype(float)})
    pdf["y"] = np.where(idx < n // 2, pdf.x * 2 + (idx % 13), -2 * pdf.x + (idx % 13))
    ref_dir, stream_dir, out_dir = (
        str(tmp_path / "ref"), str(tmp_path / "stream"), str(tmp_path / "out")
    )
    spark.createDataFrame(pdf.iloc[: n // 4]).write.parquet(ref_dir)
    spark.createDataFrame(pdf.iloc[n // 4 :]).write.parquet(stream_dir)
    cfg = {
        "output_dir": out_dir,
        "reference": ref_dir,
        "stream": stream_dir,
        "timestamp_column": "ts",
        "window": "1 hour",
        "watermark": "0 seconds",
        "checks": [
            {"type": "correlation_drift", "columns": ["x", "y"]},
        ],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    out = spark.read.parquet(str(tmp_path / "out" / "correlation_drift__x_y")).toPandas()
    assert len(out) >= 2
    shift = out[out["method"] == "corr_shift"].sort_values("window_start")
    # first streamed hour keeps the fitted relationship, the second flips it
    assert shift.iloc[0]["value"] < 0.25 or shift.iloc[-1]["value"] > 1.0


def test_streaming_suite_freshness_kind(spark, tmp_path):
    """freshness check type through run_streaming_suite: per-window row
    volume + event-time span + HLL++ bucket fill; a planted 30-minute
    outage inside one streamed hour drops its fill under the threshold."""
    from spark_validate.streaming.runner import run_streaming_suite

    ts = pd.date_range("2024-06-07", periods=1800, freq="6s")  # 3 hours
    pdf = pd.DataFrame({"ts": ts, "v": np.arange(1800)})
    # hour 2 (01:00-02:00): drop minutes 10..40 — a 30-min ingest hole
    hole = (pdf.ts >= "2024-06-07 01:10:00") & (pdf.ts < "2024-06-07 01:40:00")
    pdf = pdf[~hole]
    ref_dir, stream_dir, out_dir = (
        str(tmp_path / "ref"), str(tmp_path / "stream"), str(tmp_path / "out")
    )
    spark.createDataFrame(pdf.iloc[:10]).write.parquet(ref_dir)  # unused by freshness
    spark.createDataFrame(pdf).write.parquet(stream_dir)
    cfg = {
        "output_dir": out_dir,
        "reference": ref_dir,
        "stream": stream_dir,
        "timestamp_column": "ts",
        "window": "1 hour",
        "watermark": "0 seconds",
        "checks": [
            {"type": "freshness", "column": "ts", "bucket_seconds": 60,
             "min_bucket_fill": 0.8, "min_rows": 100},
        ],
    }
    queries = run_streaming_suite(spark, cfg)
    try:
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    out = (
        spark.read.parquet(str(tmp_path / "out" / "freshness__ts"))
        .toPandas()
        .sort_values("window_start")
    )
    assert len(out) >= 2  # append mode: watermark-closed windows
    full = out[out.window_start == pd.Timestamp("2024-06-07 00:00:00")].iloc[0]
    holed = out[out.window_start == pd.Timestamp("2024-06-07 01:00:00")].iloc[0]
    assert full["n_rows"] == 600 and not full["freshness_alert"]
    assert full["bucket_fill_rate"] == pytest.approx(1.0, abs=0.05)
    assert holed["n_rows"] == 300 and holed["freshness_alert"]
    assert holed["bucket_fill_rate"] == pytest.approx(0.5, abs=0.05)
    assert holed["span_seconds"] == pytest.approx(3594.0, abs=10)
