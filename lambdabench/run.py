"""Lambda-architecture benchmark of the engine.

Usage (from the repository root)::

    python3 lambdabench/run.py --workload batch_cycle --seed 1 --seconds 20 --trace 0

Workloads (one process each, the engine on ``local[nproc]``):

- ``batch_cycle``: closed loop over a seeded lake: compaction, hourly
  aggregates, joins, the ML frame with range-frame windows and the serving
  write, then the dedup, near-dup and ANN jobs over the lake's corpus
  (``lambdabench/batch_cycle.py``).
- ``speed_layer``: open loop over two seeded file feeds: file stream,
  scoring, keyed stream-stream interval join, foreachBatch serving sink
  (``lambdabench/speed_layer.py``).

End-to-end metrics (``--trace 0``), each reported by every workload:

- ``setup_s``: process start until the session is built and warm-up is
  done, minus input generation and oracle time. Speed layer: the feeds'
  warm-up window is part of it.
- ``pass_s``: closed loops: median wall time of one pass through every
  job, each result fully materialised (noop sink or collect). Speed layer:
  median trigger time of the micro-batches that ran during the window.
- ``latency_p50_s`` / ``latency_p99_s``: closed loops: the median latency
  of the timed jobs, and the latency of a pass's last result (the pass
  wall time: a run times a few dozen jobs, too few for a job percentile
  above the median). Speed layer: percentiles of the event latency, the
  micro-batch commit time minus the due time of the matched row's later
  input row, over the thousands of rows whose later input falls in the
  window.
- ``rows_per_s``: closed loops: input-table rows per median pass second.
  Speed layer: input rows committed in the window per second since the
  last commit before it; it equals the offered rate only while the
  backlog is not growing.

The result's ``attempted``/``failed`` count the timed jobs (closed loops)
or micro-batches (speed layer), and every result, compaction and served
pair checked against DuckDB outside the timed region. ``--trace 1`` runs
the same workload with the Spark event log on and prints the per-layer
metrics of ``lambdabench/trace.py`` instead. The last stdout line is the
JSON result; the line before it carries host facts, input facts and the
samples behind each figure.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_cycle", "speed_layer")
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "latency_p50_s": "s", "latency_p99_s": "s",
             "rows_per_s": "rows/s"}


def _prepare(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    # keep the launcher JVM's perf-data file out of the system temp dir too
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _trace_metrics(ctx, out: dict, jobs: dict) -> dict:
    from lambdabench import trace
    tr = out["trace"]
    metrics = {name: 0.0 for name in trace.metric_units()}
    per_pass = trace.layer_metrics(ctx.tracer, jobs, tr["windows"])
    setup = trace.layer_metrics(ctx.tracer, jobs, [tuple(ctx.setup_window)])
    # per timed pass (speed layer: per traced window), plus the traced part
    # of set-up, where the session is built and the pipeline assembled
    for name, value in per_pass.items():
        metrics[name] = value / tr["divisor"]
        if name != "driver.outside_jobs_s":
            metrics[name] += setup[name]
    metrics.update(tr["extra"])
    metrics.update(out["runtime"])
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".lambdabench_work", args.workload)
    _prepare(work)
    import importlib
    from lambdabench import harness, trace
    workload = importlib.import_module(f"lambdabench.{args.workload}")

    ctx = harness.Context(work, args.seed, args.seconds, bool(args.trace), T_START)
    harness.guard_count()
    if ctx.trace:
        ctx.tracer = trace.Tracer()
        ctx.tracer.wrap_layers()
    try:
        out = workload.run(ctx)
        host = ctx.host_facts()
        if ctx.sampler is not None:
            ctx.sampler.stop()
            out["runtime"] = {"runtime.jvm_rss_mb_peak": ctx.sampler.jvm_peak_mb(),
                              "runtime.python_rss_mb_peak": ctx.sampler.python_peak_mb}
    finally:
        ctx.stop()

    if harness.count_calls():
        ctx.fail("self-check", f"{harness.count_calls()} DataFrame.count() calls "
                               "from the benchmark's own code")
    if ctx.trace:
        metrics = _trace_metrics(ctx, out, trace.read_event_log(f"{work}/eventlog"))
        units = trace.metric_units()
    else:
        metrics, units = out["metrics"], E2E_UNITS
    info = {"workload": args.workload, "host": host, "failures": ctx.failures,
            "failed_ratio": ctx.failed / max(1, ctx.attempted), **ctx.info}
    if ctx.trace:
        info["end_to_end_untraced_passes"] = out["metrics"]
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
