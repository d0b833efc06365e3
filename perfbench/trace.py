"""Tracing for the benchmark's traced runs.

A span records name, start, end and parent. Each span runs its Spark actions
under a job group of its own, so the jobs, stages and tasks a span launched
are read back from ``statusTracker()`` after the op. Spans are kept in
memory; nothing is written until the run ends.

Spans come only from this package: :func:`layer_patches` wraps the public
fit/calculate entry points of the engine's layer packages (and the runner's
I/O, store and fused-pass calls) from the outside while a traced op runs, and
restores the originals afterwards. Untraced ops run the engine unwrapped.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Dict, List, Optional

# engine sub-packages whose calculators are wrapped, each its own layer
LAYER_PACKAGES = ("calculators", "checks", "drift", "image", "performance", "text")
# calculator methods and the phase they count as
METHOD_PHASES = {
    "fit": "fit",
    "calculate": "calc",
    "estimate": "calc",
    "violations": "calc",
    "duplicates": "calc",
    "verdicts": "calc",
}
# calculators of this module decode image payloads in an Arrow UDF pass
PAYLOAD_MODULE = "spark_validate.image.payload"


@dataclass
class Span:
    name: str
    parent: Optional["Span"]
    group: str
    start: float = 0.0
    end: float = 0.0
    children: float = 0.0  # summed duration of direct child spans
    data: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - self.children


class Tracer:
    """Span recorder bound to one SparkContext (single client thread)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._ids = itertools.count()
        self._prefix = f"perfbench-{os.getpid()}-"
        self.in_calculator = False  # an engine calculator call is open

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, f"{self._prefix}{next(self._ids)}")
        self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children += s.duration
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def resolve_spark_counts(self, spans: List[Span]) -> None:
        """Fill each span's job/stage/task counts from its job group."""
        tracker = self.sc.statusTracker()
        for s in spans:
            for job_id in tracker.getJobIdsForGroup(s.group):
                job = tracker.getJobInfo(job_id)
                if job is None:
                    continue
                s.jobs += 1
                for stage_id in job.stageIds:
                    stage = tracker.getStageInfo(stage_id)
                    if stage is None or stage.numTasks == stage.numCompletedTasks == 0:
                        continue  # skipped: its output was reused
                    s.stages += 1
                    s.tasks += stage.numTasks
                    s.failed_tasks += stage.numFailedTasks

    def dump(self, path: str) -> None:
        """Write every recorded span as one JSON line: name, start, end,
        parent and its Spark counts (times relative to the first span)."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        t0 = min((s.start for s in self.spans), default=0.0)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                record = {
                    "id": i, "name": s.name, "start": s.start - t0, "end": s.end - t0,
                    "parent": index.get(id(s.parent)), "job_group": s.group, "jobs": s.jobs,
                    "stages": s.stages, "tasks": s.tasks, "failed_tasks": s.failed_tasks, **s.data,
                }
                f.write(json.dumps(record) + "\n")


def layer_totals(spans: List[Span]) -> Dict[str, dict]:
    """Per span name: summed self time, calls and Spark counts."""
    out: Dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        t = out[s.name]
        t["self_s"] += s.self_time
        t["calls"] += 1
        t["jobs"] += s.jobs
        t["stages"] += s.stages
        t["tasks"] += s.tasks
        t["failed_tasks"] += s.failed_tasks
        for k, v in s.data.items():
            t[k] += v
    return out


def _span_wrapper(tracer: Tracer, name: str, fn, on_result=None, outermost: bool = False):
    """``fn`` inside a span. With ``outermost``, a call made while another
    ``outermost`` call is open runs unwrapped: a calculator that composes
    another (the payload drift check runs a drift calculator) owns its
    inner calculator's time."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        if outermost and tracer.in_calculator:
            return fn(*args, **kwargs)
        with tracer.span(name) as s:
            inside = tracer.in_calculator
            tracer.in_calculator = inside or outermost
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.in_calculator = inside
            if on_result is not None:
                on_result(s, args, result)
            return result

    return wrapped


def _layer_targets():
    """(owner, attribute, span name, outermost) for every wrapped engine
    entry point. Calculator methods are outermost-only; the Arrow payload
    pass (``image/payload.py``) is its own span, ``image.payload``."""
    from spark_validate import chunking, fused, runner
    from spark_validate.io import store

    targets = []
    for layer in LAYER_PACKAGES:
        pkg = importlib.import_module(f"spark_validate.{layer}")
        modules = [pkg]
        for info in pkgutil.iter_modules(pkg.__path__):
            try:
                modules.append(importlib.import_module(f"{pkg.__name__}.{info.name}"))
            except ImportError:  # optional dependency missing: nothing to wrap
                continue
        for mod in modules:
            for obj in vars(mod).values():
                if not isinstance(obj, type) or obj.__module__ != mod.__name__:
                    continue
                for meth, phase in METHOD_PHASES.items():
                    if inspect.isfunction(vars(obj).get(meth)):
                        if mod.__name__ == PAYLOAD_MODULE and phase == "calc":
                            phase = "payload"
                        targets.append((obj, meth, f"{layer}.{phase}", True))
    for obj in vars(chunking).values():
        if isinstance(obj, type) and inspect.isfunction(vars(obj).get("assign")):
            targets.append((obj, "assign", "chunking.assign", False))
    targets.append((runner, "write_results", "io.write", False))
    targets.append((store.FittedStore, "load", "io.store_load", False))
    targets.append((fused, "fused_calculate", "fused.calc", False))
    return targets


def _note_store_hit(span, args, result):
    span.data["store_loads"] = 1
    span.data["store_hits"] = int(result is not None)


def _note_fused(span, args, result):
    span.data["checks_fused"] = len(args[0])


_RESULT_HOOKS = {"io.store_load": _note_store_hit, "fused.calc": _note_fused}


@contextlib.contextmanager
def layer_patches(tracer: Tracer):
    """Wrap every engine entry point in a span for the duration of the block."""
    saved = []
    try:
        for owner, attr, name, outermost in _layer_targets():
            original = vars(owner)[attr]
            saved.append((owner, attr, original))
            setattr(owner, attr, _span_wrapper(tracer, name, original, _RESULT_HOOKS.get(name), outermost))
        yield
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)


_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _proc_table() -> tuple:
    """(children by parent pid, (resident kB, CPU seconds) by pid) of every
    process in ``/proc``."""
    children = defaultdict(list)
    usage = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/statm") as f:
                rss_kb = int(f.read().split()[1]) * _PAGE_KB
        except (OSError, IndexError, ValueError):
            continue  # exited while scanning
        # fields[1] is the parent pid; [11:15] utime, stime, cutime, cstime
        children[int(fields[1])].append(int(entry))
        usage[int(entry)] = (rss_kb, sum(int(x) for x in fields[11:15]) / _TICKS)
    return children, usage


def descendants(root: int) -> List[int]:
    """Pids of every live descendant of ``root``."""
    children, _ = _proc_table()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int) -> tuple:
    """(resident kB, CPU seconds) of process ``root`` and all its
    descendants (the JVM and the Python workers), from ``/proc``. CPU
    seconds include reaped children, so a worker that exited still counts."""
    children, usage = _proc_table()
    rss_kb = cpu_s = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        r, c = usage.get(pid, (0, 0.0))
        rss_kb += r
        cpu_s += c
        todo.extend(children.get(pid, ()))
    return rss_kb, cpu_s


class RssSampler:
    """Peak resident memory of this process tree, sampled in a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_usage(pid)[0])
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak_kb / 1024.0
