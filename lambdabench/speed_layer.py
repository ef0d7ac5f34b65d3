"""``speed_layer``: the streaming path, open loop.

Two seeded feeds (weather-like and stock-like) each land one parquet file
per tick at a fixed rate, by atomic rename; every row carries the wall
time its tick was due. The engine reads them with ``file_stream``, scores
the weather rows with a model fitted once at set-up, joins the two
streams on station key within ±30 s under a 1-minute watermark, and
writes each micro-batch to the serving table with
``serving_batch_writer`` through ``run_foreach_batch``.

The driver JVM runs with only the JIT's C1 compiler, and the checkpoint uses Spark's
FileSystem-based manager; the comments at ``JIT_OPTS`` and
``CHECKPOINT_MANAGER`` say why.

A matched row's latency is the commit time of its micro-batch minus the
due time of its later input row. After the window the feeds stop, the
query drains, and the served pairs must equal DuckDB's keyed interval
join over every landed file.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import threading
import time
from statistics import median

import pyarrow.parquet as pq

from lambdabench import gen
from lambdabench.harness import Context, p99
from lambdabench.trace import jvm_gc_s

TICK_S = 0.25
ROWS = 125           # per feed per tick: 1,000 rows/s offered in all
N_STATIONS = 40_000
# Feed time before the measured window, billed to set-up: under
# JIT_OPTS trigger times settle after about five micro-batches.
WARM_S = 10.0
# The speed layer runs the same few code paths once per micro-batch. Under
# the default tiered JIT, C2 keeps recompiling them for about 40 batches,
# and where a run's window falls on that slope moved its trigger times by
# up to a third between runs. With C1 only, they settle within the warm-up.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
# Spark's default checkpoint manager on a local file system renames through
# Hadoop's FileContext, which forks a `readlink` process per rename when the
# native Hadoop library is absent. On a 4-vCPU VM that was about 170 forks
# a second and 40% of each trigger's time, so the figures followed the
# host's process creation. The FileSystem-based manager renames in-process.
CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
                      "FileSystemBasedCheckpointFileManager")
DRAIN_TIMEOUT_S = 60.0
CATEGORIES = ["Clear", "Clouds", "Rain"]
FEATURES = ["hour", "dayofweek", "month", "wm_Clear", "wm_Clouds", "wm_Rain", "wm_other",
            "temp", "humidity"]
_PAIRS = """
WITH got AS (SELECT w_id, s_id FROM read_parquet('{serving}/*/*.parquet')),
want AS (
    SELECT w.w_id, s.s_id
    FROM read_parquet('{weather}/*.parquet') w
    JOIN read_parquet('{stock}/*.parquet') s
      ON w.w_station = s.s_station
     AND s.s_ts BETWEEN w.w_ts - INTERVAL 30 SECOND AND w.w_ts + INTERVAL 30 SECOND)
SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM want),
       (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)),
       (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))
"""


def _spark_schema(schema):
    from pyspark.sql import types as T
    kinds = {"int64": T.LongType(), "double": T.DoubleType(), "string": T.StringType(),
             "timestamp[us]": T.TimestampType()}
    return T.StructType([T.StructField(f.name, kinds[str(f.type)]) for f in schema])


class Feeder(threading.Thread):
    """Lands tick ``i`` of both feeds at ``t0 + i·TICK_S`` (open loop: a
    late tick is still stamped with its due time)."""

    def __init__(self, feeds: gen.FeedGenerator, weather: str, stock: str, stage: str):
        super().__init__(daemon=True)
        self.feeds, self.dirs, self.stage = feeds, (weather, stock), stage
        self.t0 = 0.0
        self.ticks = 0
        self.late_max = 0.0
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def run(self) -> None:
        try:
            while not self._halt.is_set():
                due = self.t0 + self.ticks * TICK_S
                wait = due - time.time()
                if wait > 0 and self._halt.wait(wait):
                    break
                for table, dest in zip(self.feeds.tick(self.ticks, due), self.dirs):
                    name = f"tick-{self.ticks:06d}.parquet"
                    pq.write_table(table, f"{self.stage}/{name}")
                    os.rename(f"{self.stage}/{name}", f"{dest}/{name}")
                self.late_max = max(self.late_max, time.time() - due)
                self.ticks += 1
        except BaseException as exc:  # reported by the main thread
            self.error = exc

    def start_at(self, t0: float) -> None:
        self.t0 = t0
        self.start()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _commit(p: dict) -> tuple[float, float, int]:
    """(trigger start, commit time, input rows) of one progress entry."""
    start = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0, p["numInputRows"]


def run(ctx: Context) -> dict:
    weather_dir, stock_dir = f"{ctx.work}/feed/weather", f"{ctx.work}/feed/stock"
    stage, serving = f"{ctx.work}/feed/stage", f"{ctx.work}/serving"
    for d in (weather_dir, stock_dir, stage):
        os.makedirs(d)
    feeds = gen.FeedGenerator(ctx.seed, ROWS, TICK_S, N_STATIONS)

    t0 = time.time()
    pq.write_table(feeds.training_frame(2_000), f"{ctx.work}/train.parquet")
    ctx.excluded_s += time.time() - t0

    spark = ctx.session("lambdabench-speed_layer", JIT_OPTS)
    from pyspark.sql import functions as F
    from bda_spadochrony_spark.ml.features import assemble_vector, build_features
    from bda_spadochrony_spark.ml.regress import train_regressor
    from bda_spadochrony_spark.plans.stream_fused import serving_batch_writer
    from bda_spadochrony_spark.sources.readers import scan
    from bda_spadochrony_spark.streaming.ops import state_partitions_for, stream_interval_join
    from bda_spadochrony_spark.streaming.runner import run_foreach_batch
    from bda_spadochrony_spark.streaming.sources import file_stream

    train = build_features(scan(spark, f"{ctx.work}/train.parquet"), "w_ts", "weather_main",
                           CATEGORIES, prefix="wm")
    model, _, _ = train_regressor(assemble_vector(train, FEATURES), "label", n_estimators=2)

    expected_rows = int((WARM_S + ctx.seconds) / TICK_S) * ROWS * 2
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions_for(expected_rows)))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_MANAGER)
    weather = file_stream(spark, weather_dir, _spark_schema(gen.WEATHER_SCHEMA))
    scored = model.transform(assemble_vector(
        build_features(weather, "w_ts", "weather_main", CATEGORIES, prefix="wm"), FEATURES))
    scored = scored.select("w_id", "w_station", "w_ts", "w_gen",
                           F.col("prediction").alias("w_pred"))
    stock = file_stream(spark, stock_dir, _spark_schema(gen.STOCK_SCHEMA)) \
        .select("s_id", "s_station", "s_ts", "s_gen", "price")
    joined = stream_interval_join(scored, stock, "w_ts", "s_ts", 30.0,
                                  extra_eq=[("w_station", "s_station")], how="inner",
                                  watermark="1 minute")
    writer = serving_batch_writer(serving)
    sink_s: list[tuple[float, float]] = []

    def sink(batch_df, batch_id):
        t = time.time()
        with ctx.tracer.span("plans.stream_fused", "serving_batch_writer.write") \
                if ctx.tracer else contextlib.nullcontext():
            writer(batch_df, batch_id)
        sink_s.append((t, time.time()))

    query = run_foreach_batch(joined, sink, checkpoint=f"{ctx.work}/checkpoint")
    ctx.end_setup_trace()

    feeder = Feeder(feeds, weather_dir, stock_dir, stage)
    feeder.start_at(time.time())
    time.sleep(WARM_S)
    w0 = time.time()
    setup_s = w0 - ctx.t_start - ctx.excluded_s
    w_mid, w1 = w0 + ctx.seconds / 2.0, w0 + ctx.seconds
    gc0 = None
    if ctx.trace:
        time.sleep(max(0.0, w_mid - time.time()))
        gc0 = jvm_gc_s(spark)
        ctx.tracer.enabled = True
    time.sleep(max(0.0, w1 - time.time()))
    if ctx.tracer:
        ctx.tracer.enabled = False
    gc_s = jvm_gc_s(spark) - gc0 if gc0 is not None else 0.0
    feeder.stop()
    if feeder.error is not None:
        raise RuntimeError("feed generator failed") from feeder.error
    landed = feeder.ticks * ROWS * 2

    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline and query.isActive:
        done = sum(p["numInputRows"] for p in query.recentProgress)
        if done >= landed and not query.status["isTriggerActive"]:
            break
        time.sleep(0.1)
    progress = list(query.recentProgress)
    error = query.exception()
    query.stop()
    batches = {p["batchId"]: _commit(p) for p in progress}
    data_batches = {b: v for b, v in batches.items() if v[2] > 0}
    ctx.attempted += len(data_batches)
    if error is not None:
        ctx.fail("stream", str(error))
    done = sum(v[2] for v in batches.values())
    if done != landed:
        ctx.fail("drain", f"{done} of {landed} landed rows committed")

    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    got, want, extra, missing = con.execute(_PAIRS.format(
        serving=serving, weather=weather_dir, stock=stock_dir)).fetchone()
    if extra or missing:
        ctx.fail("stream_interval_join", f"{got} pairs served, {want} expected: "
                                         f"{extra} extra, {missing} missing")
    rows = con.execute(f"SELECT greatest(w_gen, s_gen), batch_id FROM read_parquet("
                       f"'{serving}/*/*.parquet', hive_partitioning = true)").fetchall()

    def latencies(lo: float, hi: float) -> list[float]:
        return [batches[int(b)][1] - g for g, b in rows if lo <= g < hi and int(b) in batches]

    samples = latencies(w0, w1)
    commits = sorted(v for v in data_batches.values())
    in_window = [v for v in commits if w0 <= v[1] <= w1]
    # rows committed in the window over the time since the commit before
    # it: batch boundaries do not quantise the rate, and a window holding
    # a single long batch still reads
    before = [v[1] for v in commits if v[1] < w0]
    rate = (sum(v[2] for v in in_window) / (in_window[-1][1] - before[-1])
            if in_window and before else 0.0)
    ctx.info.update({
        "latency_samples": len(samples), "batches_in_window": len(in_window),
        "landed_rows": landed, "served_pairs": got, "ticks": feeder.ticks,
        "offered_rows_per_s": 2 * ROWS / TICK_S, "tick_s": TICK_S,
        "station_skew": gen.key_skew(con.execute(
            f"SELECT w_station FROM read_parquet('{weather_dir}/*.parquet') UNION ALL "
            f"SELECT s_station FROM read_parquet('{stock_dir}/*.parquet')").fetchnumpy()[
            "w_station"]),
        "generator_late_s_max": feeder.late_max,
        "trigger_s_all": [round(v[1] - v[0], 3) for _, v in sorted(batches.items())],
        "excluded_s": round(ctx.excluded_s, 3)})
    metrics = {
        "setup_s": setup_s,
        "pass_s": median([v[1] - v[0] for v in commits if v[0] <= w1 and v[1] >= w0]),
        "latency_p50_s": median(samples),
        "latency_p99_s": p99(samples),
        "rows_per_s": rate,
    }
    trace = None
    if ctx.trace:
        traced = [p for p in progress if w_mid <= _commit(p)[1] <= w1]
        trace = {"windows": [(w_mid, w1)], "divisor": 1,
                 "extra": {"runtime.gc_s": gc_s,
                           "generator.late_s_max": feeder.late_max,
                           "trace.overhead_ratio":
                               median(latencies(w_mid, w1)) / median(latencies(w0, w_mid)) - 1.0,
                           "plans.stream_fused.sink_write_s":
                               sum(b - a for a, b in sink_s if w_mid <= a <= w1),
                           **stream_metrics(traced)}}
    return {"metrics": metrics, "trace": trace}


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """Streaming splits of the traced micro-batches, from
    ``StreamingQuery.recentProgress``."""
    def total(*keys):
        return sum(p["durationMs"].get(k, 0) for p in progress for k in keys) / 1000.0
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    last = progress[-1].get("stateOperators", []) if progress else []
    return {
        "streaming.runner.batches": len(progress),
        "streaming.runner.trigger_s_p50":
            median([p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress])
            if progress else 0.0,
        "streaming.runner.planning_s": total("queryPlanning"),
        "streaming.runner.add_batch_s": total("addBatch"),
        "streaming.runner.commit_s": total("walCommit", "commitOffsets"),
        "streaming.sources.offset_s": total("latestOffset", "getBatch"),
        "streaming.ops.state_rows": sum(op.get("numRowsTotal", 0) for op in last),
        "streaming.ops.state_bytes": sum(op.get("memoryUsedBytes", 0) for op in last),
        "streaming.ops.state_commit_s": sum(op.get("commitTimeMs", 0) for op in ops) / 1000.0,
    }
