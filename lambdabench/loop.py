"""The closed loop of ``batch_cycle``: a concurrent warm-up round billed to
set-up, then timed passes back to back until the run's seconds are spent,
each pass checked after its timer stops."""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from statistics import median

from lambdabench.harness import Context, run_job
from lambdabench.trace import jvm_gc_s

def closed_loop(ctx: Context, warm_jobs, one_pass, check_pass, input_rows: int) -> dict:
    """Run the warm-up and the timed passes; returns the end-to-end
    metrics and, for a traced run, the windows of the traced passes.

    The warm-up runs a pass's jobs side by side, which costs less than a
    sequential pass; its results are checked after set-up time stops.

    In a traced run passes alternate untraced/traced, at least
    untraced-traced-untraced, so the tracing overhead is measured on the
    same process and data with the warming trend on both sides of the
    traced pass; the end-to-end figures then come from the untraced
    passes."""
    ctx.end_setup_trace()
    jobs = warm_jobs()
    with ThreadPoolExecutor(min(ctx.nproc, len(jobs))) as pool:
        futures = {name: pool.submit(run_job, ctx, f"warm-up {name}", fn) for name, fn in jobs}
    setup_end = time.time()
    setup_s = setup_end - ctx.t_start - ctx.excluded_s
    check_pass({name: fut.result()[1] for name, fut in futures.items()})

    passes, windows, traced_s = [], [], []
    gc_s, measured, last_s = 0.0, 0.0, 0.0
    # another pass starts only if one more of the last pass's length still
    # ends within the run's seconds: a pass longer than the run is timed once
    while (not passes or measured + last_s <= ctx.seconds
           or (ctx.trace and len(passes) < 2)):
        traced = ctx.trace and (len(passes) + len(traced_s)) % 2 == 1
        if traced:
            gc0 = jvm_gc_s(ctx.spark)
            ctx.tracer.enabled = True
        w0 = time.time()
        pass_s, times, results = one_pass()
        w1 = time.time()
        if traced:
            ctx.tracer.enabled = False
            gc_s += jvm_gc_s(ctx.spark) - gc0
            windows.append((w0, w1))
            traced_s.append(pass_s)
        else:
            passes.append((pass_s, times))
        measured += pass_s
        last_s = pass_s
        check_pass(results)

    pass_times = [p for p, _ in passes]
    job_times = [t for _, times in passes for _, t in times]
    ctx.info.update({"passes": len(passes), "jobs_timed": len(job_times),
                     "pass_s_samples": [round(p, 4) for p in pass_times],
                     "job_s_by_name": _by_name(passes),
                     "excluded_s": round(ctx.excluded_s, 3)})
    metrics = {
        "setup_s": setup_s,
        "pass_s": median(pass_times),
        "latency_p50_s": median(job_times),
        # no job percentile above the median has ten samples beyond it in a
        # run, so the tail is the pass's last result: the pass wall time
        "latency_p99_s": median(pass_times),
        "rows_per_s": input_rows / median(pass_times),
    }
    trace = None
    if ctx.trace:
        trace = {"windows": windows, "divisor": len(windows),
                 "extra": {"runtime.gc_s": gc_s / len(windows),
                           "trace.overhead_ratio": median(traced_s) / median(pass_times) - 1.0}}
    return {"metrics": metrics, "trace": trace}


def _by_name(passes) -> dict[str, float]:
    names: dict[str, list[float]] = {}
    for _, times in passes:
        for name, t in times:
            names.setdefault(name, []).append(t)
    return {name: round(median(ts), 4) for name, ts in names.items()}
