"""Shared pieces of the workloads: the session, the materialising action,
the DuckDB oracle comparison and the timing summaries."""

from __future__ import annotations

import contextlib
import datetime
import math
import os
import platform
import statistics
import subprocess
import sys
import threading
import time
import traceback

# Driver heap for local mode (the engine's default is sized for a large
# host); every run of every workload uses the same value.
DRIVER_MEM = "4g"


class Context:
    """One run: its arguments, work directory, session and tracer."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool, t_start: float):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.trace, self.t_start = trace, t_start
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        self.sampler = None  # RSS sampler of a traced run
        self.excluded_s = 0.0  # input generation and oracle time, kept out of setup_s
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.info: dict = {}
        self.setup_window: list[float] = [0.0, 0.0]  # traced span of set-up
        self._lock = threading.Lock()

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, what: str, detail: str) -> None:
        with self._lock:
            self.failed += 1
            self.failures.append(f"{what}: {detail}"[:500])
        print(f"FAILED {what}: {detail}", file=sys.stderr)

    def session(self, app: str, java_opts: str = ""):
        """Build the run's session; ``java_opts`` are added to the driver
        JVM's options."""
        from bda_spadochrony_spark.session import get_session
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.driver.extraJavaOptions":
                f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work}/tmp "
                f"{java_opts}".strip(),
        }
        if self.trace:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"{self.work}/eventlog",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        if self.tracer:
            self.tracer.enabled = True
        self.setup_window = [time.time(), time.time()]
        self.spark = get_session(app, master=f"local[{self.nproc}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            from lambdabench.trace import RssSampler
            jvm = self.spark.sparkContext._jvm
            self.sampler = RssSampler(jvm.java.lang.ProcessHandle.current().pid()).start()
        return self.spark

    def end_setup_trace(self) -> None:
        """Stop tracing set-up; warm-up is not traced."""
        self.setup_window[1] = time.time()
        if self.tracer:
            self.tracer.enabled = False

    def host_facts(self) -> dict:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        return {
            "nproc": self.nproc, "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory", ""),
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "seed": self.seed,
        }

    def stop(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it."""
        if self.sampler is not None:
            self.sampler.stop()
        if self.spark is None:
            return
        from pyspark import SparkContext
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None


_COUNT_CALLS: list[str] = []


def guard_count() -> None:
    """Self-check: a timed job must materialise through ``materialise``,
    never through ``DataFrame.count`` (Catalyst prunes a count down to
    row counting). Calls of ``count`` made from this package are recorded
    and fail the run; the engine's own internal counts are not affected."""
    from pyspark.sql import DataFrame
    original = DataFrame.count
    here = os.path.dirname(os.path.abspath(__file__))

    def count(self):
        caller = sys._getframe(1).f_code.co_filename
        if os.path.dirname(os.path.abspath(caller)) == here:
            _COUNT_CALLS.append(caller)
        return original(self)
    DataFrame.count = count


def count_calls() -> int:
    return len(_COUNT_CALLS)


def materialise(ctx: Context, name: str, df, collect: bool):
    """The benchmark's action: a full noop-sink write, or a collect for
    small results. Recorded as the ``action`` layer."""
    with ctx.tracer.span("action", name) if ctx.tracer else contextlib.nullcontext():
        if collect:
            return df.collect()
        df.write.format("noop").mode("overwrite").save()
        return None


def run_job(ctx: Context, name: str, fn):
    """Run one timed job; returns (seconds, result) or (seconds, None) on
    an exception, which counts as a failure."""
    ctx.attempt()
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception:
        ctx.fail(name, traceback.format_exc(limit=3))
        return time.perf_counter() - t0, None
    return time.perf_counter() - t0, out


# ----------------------------------------------------------- the oracle --

def _norm(x):
    if x is None:
        return None
    if isinstance(x, float):
        return None if math.isnan(x) else round(x, 4)
    if isinstance(x, datetime.datetime):
        return x.replace(tzinfo=None).isoformat()
    if isinstance(x, datetime.date):
        return x.isoformat()
    if isinstance(x, (list, tuple)):
        return tuple(_norm(v) for v in x)
    if hasattr(x, "item"):
        return _norm(x.item())
    return x


def canon(rows, cols) -> tuple[list[str], list[tuple]]:
    """Rows with columns in name order and values normalised, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                 key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], out


class Oracle:
    """DuckDB over the generated inputs, with the driver contract's SQL."""

    def __init__(self, views: dict[str, str]):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for name, src in views.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
        self.expected: dict[str, tuple] = {}

    def load(self, names: list[str], sql: dict[str, str]) -> None:
        for name in names:
            cur = self.con.execute(sql[name])
            self.expected[name] = canon(cur.fetchall(), [d[0] for d in cur.description])

    def check(self, ctx: Context, name: str, rows, columns) -> None:
        cols, got = canon([tuple(r) for r in rows], list(columns))
        want_cols, want = self.expected[name]
        if cols != want_cols or not _same_rows(got, want):
            ctx.fail(name, f"result differs from the oracle: {len(got)} rows vs {len(want)}, "
                           f"columns {cols} vs {want_cols}")


# Floating sums of ~1e9 taken in another order can round to a different
# last cent (star_join revenue 524597198.03 vs .02 on one seed): floats
# match within this relative tolerance, every other value exactly.
_REL_TOL = 1e-9


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    if got == want:
        return True
    if len(got) != len(want):
        return False

    def key(row):  # pair rows on their exact values first
        return (tuple((v is None, str(v)) for v in row if not isinstance(v, float)),
                tuple(v for v in row if isinstance(v, float)))

    def same(a, b):
        if isinstance(a, float) and isinstance(b, float):
            return math.isclose(a, b, rel_tol=_REL_TOL)
        return a == b
    return all(len(g) == len(w) and all(map(same, g, w))
               for g, w in zip(sorted(got, key=key), sorted(want, key=key)))


# ------------------------------------------------------------- summaries --

def p99(values: list[float]) -> float:
    """99th percentile, interpolated between the closest ranks."""
    return statistics.quantiles(values, n=100, method="inclusive")[98]
