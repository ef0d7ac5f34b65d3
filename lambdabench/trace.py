"""Per-layer trace: spans recorded around calls into the engine's layers,
Spark jobs attributed to spans from the event log, and runtime samples.

Spans are taken from this package only. ``Tracer.wrap_layers`` replaces
each public function of a layer module with a recording wrapper, and
rebinds every reference to it that other engine modules (and the driver
contract module) imported by name. No engine file is edited.

A job is attributed to the innermost span open at its submission time,
whatever thread submitted it (``setJobGroup`` is thread-local and misses
the streaming micro-batch threads). A layer's self time is its spans'
wall time minus the part their child spans cover; for the lazy layers
that is Catalyst analysis plus py4j round trips.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from typing import NamedTuple

LAYERS = [
    "session", "sources.readers", "sources.writers",
    "operators.aggregates", "operators.joins", "operators.windows",
    "operators.dedup", "operators.similarity", "operators.corpus",
    "ml.features", "ml.regress", "plans.pipelines", "plans.stream_fused",
    "streaming.sources", "streaming.ops", "streaming.runner",
    "streaming.ann_index", "action",
]
ARROW_LAYERS = ["operators.dedup", "operators.similarity", "operators.corpus", "action"]
STREAM_METRICS = [
    "streaming.runner.batches", "streaming.runner.trigger_s_p50",
    "streaming.runner.planning_s", "streaming.runner.add_batch_s",
    "streaming.runner.commit_s", "streaming.sources.offset_s",
    "streaming.ops.state_rows", "streaming.ops.state_bytes",
    "streaming.ops.state_commit_s", "plans.stream_fused.sink_write_s",
]
RUNTIME_METRICS = [
    "driver.outside_jobs_s", "runtime.gc_s", "runtime.jvm_rss_mb_peak",
    "runtime.python_rss_mb_peak", "generator.late_s_max", "trace.overhead_ratio",
]
_PKG = "bda_spadochrony_spark"


class Span(NamedTuple):
    layer: str
    name: str
    start: float
    end: float
    depth: int  # nesting depth within the recording thread


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    units: dict[str, str] = {}
    for layer in LAYERS:
        units.update({f"{layer}.calls": "count", f"{layer}.self_s": "s",
                      f"{layer}.jobs": "count", f"{layer}.task_cpu_s": "s",
                      f"{layer}.shuffle_bytes": "bytes"})
        if layer in ARROW_LAYERS:
            units[f"{layer}.python_s"] = "s"
    for name in STREAM_METRICS + RUNTIME_METRICS:
        units[name] = "s" if name.endswith("_s") or name.endswith("_p50") else "count"
    units.update({"streaming.ops.state_bytes": "bytes",
                  "runtime.jvm_rss_mb_peak": "MB", "runtime.python_rss_mb_peak": "MB",
                  "trace.overhead_ratio": "ratio"})
    return units


class Tracer:
    """Span recorder. Spans are kept in memory; ``enabled`` switches
    recording on and off without unwrapping."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        depth = getattr(self._local, "depth", 0)
        self._local.depth = depth + 1
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._local.depth = depth
            with self._lock:
                self.spans.append(Span(layer, name, start, end, depth))

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)
        return traced

    def wrap_layers(self) -> None:
        """Wrap the public functions of every engine layer module and
        rebind the names other modules imported."""
        swap: dict[int, object] = {}
        for layer in LAYERS:
            if layer == "action":
                continue
            mod = importlib.import_module(f"{_PKG}.{layer}")
            for name, obj in list(vars(mod).items()):
                if (inspect.isfunction(obj) and obj.__module__ == mod.__name__
                        and not name.startswith("_")):
                    wrapped = self.wrap(layer, obj)
                    swap[id(obj)] = wrapped
                    setattr(mod, name, wrapped)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name.startswith(_PKG) or mod_name == "__spark_entry__"):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in swap and inspect.isfunction(obj):
                    setattr(mod, name, swap[id(obj)])


def self_times(spans, lo: float, hi: float) -> dict[str, tuple[int, float]]:
    """Per layer: (calls, self seconds) of the spans that start in
    ``[lo, hi]``. Child time is subtracted per thread of nesting, using
    depth: a span's children are the deeper spans inside its interval."""
    out: dict[str, list] = {}
    inside = sorted((s for s in spans if lo <= s.start <= hi), key=lambda s: (s.start, s.depth))
    for i, span in enumerate(inside):
        child = 0.0
        for other in inside[i + 1:]:
            if other.start > span.end:
                break
            if other.depth == span.depth + 1 and other.end <= span.end:
                child += other.end - other.start
        acc = out.setdefault(span.layer, [0, 0.0])
        acc[0] += 1
        acc[1] += max(0.0, (span.end - span.start) - child)
    return {k: (v[0], v[1]) for k, v in out.items()}


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Jobs of the application's event log with their task totals:
    ``{job_id: {start, end, cpu_s, shuffle_bytes, python_s}}``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = {"start": ev["Submission Time"] / 1000.0, "end": None, "cpu_s": 0.0,
                       "shuffle_bytes": 0, "python_s": 0.0}
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                job["cpu_s"] += tm["Executor CPU Time"] / 1e9
                job["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        job["python_s"] += float(acc.get("Update", 0)) / 1000.0
    return jobs


def attribute_jobs(spans, jobs: dict[int, dict], lo: float, hi: float) -> dict[str, dict]:
    """Per layer: jobs, task CPU, shuffle bytes and Python worker time of
    the jobs submitted in ``[lo, hi]``, each job charged to the innermost
    span open at its submission: the one that started last, so a span
    opened in a foreachBatch callback thread wins over the caller blocked
    waiting for the stream."""
    out: dict[str, dict] = {}
    for job in jobs.values():
        t = job["start"]
        if not lo <= t <= hi:
            continue
        best = None
        for span in spans:
            if span.start <= t <= span.end and (
                    best is None or (span.start, span.depth) > (best.start, best.depth)):
                best = span
        layer = best.layer if best else "unattributed"
        acc = out.setdefault(layer, {"jobs": 0, "cpu_s": 0.0, "shuffle_bytes": 0, "python_s": 0.0})
        acc["jobs"] += 1
        acc["cpu_s"] += job["cpu_s"]
        acc["shuffle_bytes"] += job["shuffle_bytes"]
        acc["python_s"] += job["python_s"]
    return out


def outside_jobs_s(jobs: dict[int, dict], windows: list[tuple[float, float]]) -> float:
    """Wall time inside ``windows`` during which no Spark job was running."""
    total = 0.0
    for lo, hi in windows:
        ivs = sorted((max(lo, j["start"]), min(hi, j["end"] or hi)) for j in jobs.values()
                     if j["start"] < hi and (j["end"] or hi) > lo)
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        total += (hi - lo) - covered
    return total


def _rss_mb(pid: int, field: str = "VmRSS") -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    kids = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return kids


class RssSampler:
    """Samples the summed RSS of this Python process and of the Python
    processes under the JVM (pyspark daemon and workers) until stopped.
    Pages the forked workers share with the daemon count once per process."""

    def __init__(self, jvm_pid: int, period_s: float = 0.2) -> None:
        self.jvm_pid, self.period_s = jvm_pid, period_s
        self.python_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _python_pids(self) -> list[int]:
        pids, todo = [os.getpid()], _children(self.jvm_pid)
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(_children(pid))
        return pids

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = sum(_rss_mb(p) for p in self._python_pids())
            self.python_peak_mb = max(self.python_peak_mb, rss)
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def jvm_peak_mb(self) -> float:
        return _rss_mb(self.jvm_pid, "VmHWM")


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's collectors (local mode:
    the executors run inside it)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def layer_metrics(tracer: Tracer, jobs: dict[int, dict], windows: list[tuple[float, float]]
                  ) -> dict[str, float]:
    """The per-layer block (calls, self time, jobs, task CPU, shuffle and
    Python time) over the traced windows, plus time outside jobs."""
    out = {name: 0.0 for name in metric_units()
           if name.split(".")[-1] in ("calls", "self_s", "jobs", "task_cpu_s",
                                      "shuffle_bytes", "python_s")
           and name.rsplit(".", 1)[0] in LAYERS}
    for lo, hi in windows:
        for layer, (calls, self_s) in self_times(tracer.spans, lo, hi).items():
            out[f"{layer}.calls"] += calls
            out[f"{layer}.self_s"] += self_s
        for layer, acc in attribute_jobs(tracer.spans, jobs, lo, hi).items():
            if layer not in LAYERS:
                continue
            out[f"{layer}.jobs"] += acc["jobs"]
            out[f"{layer}.task_cpu_s"] += acc["cpu_s"]
            out[f"{layer}.shuffle_bytes"] += acc["shuffle_bytes"]
            if layer in ARROW_LAYERS:
                out[f"{layer}.python_s"] += acc["python_s"]
    out["driver.outside_jobs_s"] = outside_jobs_s(jobs, windows)
    return out
