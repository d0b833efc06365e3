"""Benchmark driver: one workload, one client, one op at a time.

    python3 perfbench/run.py --workload model_monitor --seed 1 --seconds 5 --trace 0

Run from anywhere inside a source checkout: the engine is imported from the
checkout this file sits in. A run

1. starts Spark on ``local[nproc]`` through ``spark_validate.session``,
   generates the workload's inputs from ``--seed`` and runs the warm-up ops
   (all of this is ``setup_s``), which record the seed's output fingerprint;
2. runs ops back to back for ``--seconds``, and at least ``MIN_OPS`` of
   them, and checks each op's fingerprint against the recorded one; a
   mismatch or an exception fails the op;
3. prints a few summary lines, then one JSON result line: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` the ops alternate between traced and untraced; per-layer
numbers come from the traced ops and ``trace.overhead_pct`` compares the two.
Spark and engine logs go to a file under the scratch directory, so standard
output carries only the results.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

# measured ops per run at least; a traced run needs an untraced op too
MIN_OPS = 1
MIN_TRACED_RUN_OPS = 2
# idle seconds after the warm-up, while the JVM finishes compiling the hot
# paths the warm-up found; without it the first measured op pays for that
SETTLE_S = 3.0
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, ".scratch")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")

# spans whose summed self seconds are reported per layer (``<span>_s``)
SPAN_LAYERS = (
    "image.payload", "drift.fit", "drift.calc", "performance.fit", "performance.calc",
    "checks.calc", "text.calc", "fused.calc", "io.write", "io.store_load", "chunking.assign",
)
COUNTED_LAYERS = ("drift", "performance", "checks", "text", "image", "fused", "io", "chunking")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "spark_validate", "__init__.py"))


def _configure_env(run_dir: str, nproc: int) -> None:
    """Size Spark for this box and keep everything it writes in ``run_dir``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_VALIDATE_DRIVER_MEM"] = "3g"
    os.environ["SPARK_VALIDATE_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # Python workers import spark_validate (pandas UDFs, chi2 UDF)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _redirect_output(log_path: str):
    """Point fds 1 and 2 at the log file (the JVM and the workers inherit
    them); return a stream on the original stdout for the results."""
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    results = os.fdopen(os.dup(1), "w", buffering=1)
    errors = os.fdopen(os.dup(2), "w", buffering=1)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    return results, errors


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process started
    under this one (the JVM, the Python worker daemon and its workers) has
    exited; kill what is left after a grace period."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    for grace in (30, 10):
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            alive = [pid for pid in started if _running(pid)]
            if not alive:
                return
            time.sleep(0.1)
        for pid in alive:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _percentile_with_tail(values, tail: int = 10):
    """Highest percentile with at least ``tail`` samples beyond it, or None."""
    n = len(values)
    if n <= tail:
        return None
    q = (n - tail) / n
    return sorted(values)[n - tail - 1], round(100 * q, 1)


def measure(args, log) -> dict:
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS, Context

    from spark_validate.session import get_spark

    nproc = _nproc()
    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=nproc, shuffle_partitions=nproc)
    start_s = time.perf_counter() - t_setup
    try:
        ctx = Context(spark, args.run_dir, args.seed, args.size, nproc)
        workload = WORKLOADS[args.workload]()
        workload.prepare(ctx)
        inputs_s = time.perf_counter() - t_setup - start_s
        expected = workload.warm_up(ctx)
        problem = workload.check(expected)
        time.sleep(SETTLE_S)  # let the JIT drain its compile queue
        setup_s = time.perf_counter() - t_setup
        log(f"setup {setup_s:.2f}s (session {start_s:.2f}s, inputs {inputs_s:.2f}s); "
            f"expected fingerprint {json.dumps(expected)}")
        if args.tamper:  # self-test hook: a wrong recorded fingerprint must fail every op
            expected = dict(expected, tampered=True)

        tracer = Tracer(spark.sparkContext) if args.trace else None
        results, traced, attempted, failed = [], [], 0, 0
        sampler = RssSampler()
        sampler.start()
        t_end = time.perf_counter() + args.seconds
        min_ops = MIN_TRACED_RUN_OPS if tracer else MIN_OPS
        while time.perf_counter() < t_end or attempted < min_ops:
            trace_this = tracer is not None and attempted % 2 == 0
            attempted += 1
            try:
                r = workload.op(ctx, tracer if trace_this else None)
            except Exception:
                failed += 1
                log(f"op {attempted} raised:\n{traceback.format_exc()}")
                continue
            log(f"op {attempted}{' traced' if trace_this else ''}: {r.wall_s:.3f} s wall, {r.cpu_s:.2f} s cpu")
            if r.fingerprint != expected:  # timed, but counted as failed
                failed += 1
                log(f"op {attempted} fingerprint mismatch: {json.dumps(r.fingerprint)}")
            (traced if trace_this else results).append(r)
        peak_rss_mb = sampler.stop()
        if tracer is not None:
            tracer.dump(os.path.join(args.scratch, "logs", f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        _stop_spark(spark)
    return {
        "attempted": attempted,
        "failed": failed,
        "problem": problem,
        "setup_s": setup_s,
        "start_s": start_s,
        "peak_rss_mb": peak_rss_mb,
        "untraced": results,
        "traced": traced,
    }


def _median(ops, fn) -> float:
    return statistics.median(fn(r) for r in ops)


def end_to_end(m: dict) -> dict:
    ops = m["untraced"]
    # wall time (run_s) is in the summary line only: on a shared machine it
    # varies by a third between runs of the same op, CPU time half as much
    return {
        "cpu_s": {"value": _median(ops, lambda r: r.cpu_s), "unit": "s"},
        "setup_s": {"value": m["setup_s"], "unit": "s"},
    }


def per_layer(m: dict) -> dict:
    """Per-layer numbers of the traced ops (medians over ops)."""
    ops = m["traced"]
    wall = _median(ops, lambda r: r.wall_s)
    out = {
        "session.start_s": {"value": m["start_s"], "unit": "s"},
        "op.wall_s": {"value": wall, "unit": "s"},
        "op.fit_s": {"value": _median(ops, lambda r: r.fit_s), "unit": "s"},
        "trace.overhead_pct": {"value": 100.0 * (wall / _median(m["untraced"], lambda r: r.wall_s) - 1.0),
                               "unit": "%"},
    }
    for name in SPAN_LAYERS:
        out[f"{name}_s"] = {"value": _median(ops, lambda r: r.layer_s.get(name, 0.0)), "unit": "s"}
    # run_suite's own work: its wall time minus the engine calls under it
    out["runner.self_s"] = {"value": _median(ops, lambda r: r.layer_s.get("runner.run", 0.0)), "unit": "s"}
    payload_s = out["image.payload_s"]["value"]
    out["image.payload_rows_per_s"] = {
        "value": _median(ops, lambda r: r.rows) / payload_s if payload_s else 0.0, "unit": "1/s",
    }
    counts = ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks", "fused.checks_fused",
              "io.write_calls", "io.files_written"] + [f"{layer}.jobs" for layer in COUNTED_LAYERS]
    for name in counts:
        out[name] = {"value": _median(ops, lambda r: r.counts.get(name, 0)), "unit": "count"}
    out["io.bytes_written"] = {"value": _median(ops, lambda r: r.counts.get("io.bytes_written", 0)),
                               "unit": "bytes"}
    loads = _median(ops, lambda r: r.counts.get("io.store_loads", 0))
    out["io.store_hit_ratio"] = {
        "value": _median(ops, lambda r: r.counts.get("io.store_hits", 0)) / loads if loads else 0.0,
        "unit": "ratio",
    }
    return out


def summary_lines(args, m: dict) -> list:
    """Human-readable lines for every end-to-end figure, printed before the
    JSON result line."""
    ops = m["untraced"] or m["traced"]
    walls = [r.wall_s for r in ops]
    tail = _percentile_with_tail(walls)
    tail_txt = f"p{tail[1]} {tail[0]:.3f} s" if tail else "no percentile with 10 ops beyond it"
    rows_per_s = _median(ops, lambda r: r.rows / (r.wall_s - r.fit_s))
    per_check = {k: round(_median(ops, lambda r: r.detail[k]), 3) for k in ops[0].detail}
    return [
        f"{args.workload}: run_s median {statistics.median(walls):.3f} s over {len(walls)} ops ({tail_txt}); "
        f"cpu_s median {_median(ops, lambda r: r.cpu_s):.2f} s; fit_s median {_median(ops, lambda r: r.fit_s):.3f} s; "
        f"rows_per_s median {rows_per_s:.1f} 1/s; setup_s {m['setup_s']:.3f} s; "
        f"peak_rss_mb {m['peak_rss_mb']:.1f} MB; failed_frac {m['failed'] / m['attempted']:.3f} "
        f"({m['failed']}/{m['attempted']})",
        f"{args.workload}: per-check seconds (median) {json.dumps(per_check)}",
    ]


def run_one(args) -> int:
    if not _engine_present():
        print(f"perfbench: no spark_validate package next to {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2
    nproc = _nproc()
    args.run_dir = os.path.join(args.scratch, f"run-{args.workload}-{os.getpid()}")
    _configure_env(args.run_dir, nproc)
    log_path = os.path.join(args.scratch, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    results, errors = _redirect_output(log_path)

    def log(msg: str) -> None:
        print(msg, flush=True)  # fd 1 is the log file now

    try:
        m = measure(args, log)
    except Exception:
        log(traceback.format_exc())
        print(f"perfbench: {args.workload} failed; see {log_path}", file=errors)
        return 1
    finally:
        shutil.rmtree(args.run_dir, ignore_errors=True)
    if m["problem"]:
        log(f"output check: {m['problem']}")
    ok_ops = m["traced"] if args.trace else m["untraced"]
    if not ok_ops or (args.trace and not m["untraced"]):
        print(f"perfbench: {args.workload} completed no checked op; see {log_path}", file=errors)
        return 1
    for line in summary_lines(args, m):
        print(line, file=results)
    out = {
        "correct": m["failed"] == 0 and not m["problem"],
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": per_layer(m) if args.trace else end_to_end(m),
    }
    print(json.dumps(out), file=results)
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process; the last line merges
    their results with metric names prefixed by workload."""
    with open(BENCHMARK_JSON) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size,
               "--scratch", args.scratch]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]))
        one = json.loads(lines[-1])
        merged["correct"] &= one["correct"]
        merged["attempted"] += one["attempted"]
        merged["failed"] += one["failed"]
        for metric, v in one["metrics"].items():
            merged["metrics"][f"{name}.{metric}"] = v
            print(f"{name} {metric} {v['value']:.6g} {v['unit']}")
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, help="a workload of BENCHMARK.json, or 'all'")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--scratch", default=SCRATCH, help="directory for inputs, outputs and logs")
    p.add_argument("--tamper", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or 'all'")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
