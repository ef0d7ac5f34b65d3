"""``batch_cycle``: the batch side of the lambda architecture over a seeded
lake, closed loop, one client, passes back to back.

A pass first runs the batch layer's cycle: it compacts the live zone into
the historical events table, runs the hourly aggregates, the joins and the
ML target frame with range-frame windows through the driver contract's
query builders, and writes the hourly serving table. There scans,
shuffles, window frames and writes do the work. It then runs the dedup
and ANN jobs over the lake's small document and embedding corpus, the
mirror image: job count × per-job overhead and the Python/Arrow boundary
set their time.

Every result of the warm-up round is collected and checked against the
DuckDB oracle. In the timed passes small results are collected and checked
after every pass, while large ones go to the noop sink.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

from lambdabench import gen
from lambdabench.harness import Context, Oracle, materialise, run_job
from lambdabench.loop import closed_loop

N_EVENTS = 50_000
N_USERS = 1_500
N_LINEITEM = 200_000
LIVE_FILES = 48
N_DOCS = 1_000
N_VECS = 500
# (registry query, collected?) in pass order; the serving write follows
# the batch-layer jobs, the dedup/ANN jobs come last
BATCH_JOBS = [
    ("traffic_hourly", True), ("hourly_with_mode", True), ("two_level_avg", True),
    ("star_join", True), ("interval_join_batch", False), ("ml_features", False),
    ("range_window_partitioned", False), ("range_window_sum", False),
]
DEDUP_JOBS = [
    ("dedup_survivors", True), ("semantic_dedup", True), ("minhash_near_dup", True),
    ("embedding_ann_stack", True), ("embedding_ivf_pq", True), ("stream_ann_index", True),
]
REGISTRY = BATCH_JOBS + DEDUP_JOBS
_DIGEST = ("SELECT count(*), sum(hash(event_id, ts, user_id, event_type, value, props)) "
           "FROM read_parquet('{}')")


def run(ctx: Context) -> dict:
    lake = f"{ctx.work}/lake"
    live, hist, serving = f"{lake}/live", f"{lake}/events.parquet", f"{ctx.work}/serving"

    t0 = time.time()
    facts = gen.write_lake(lake, ctx.seed, N_EVENTS, N_USERS, N_LINEITEM, LIVE_FILES)
    facts["tables"].update(gen.write_corpus(lake, ctx.seed, N_DOCS, N_VECS)["tables"])
    ctx.info["inputs"] = facts
    ctx.excluded_s += time.time() - t0

    t0 = time.time()
    import __spark_entry__ as entry
    # the oracle sizes its index parameters from this lake's corpus
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = lake
    sql = entry.oracle_sql()
    views = {t: f"{lake}/{t}.parquet" for t in ("region", "nation", "customer", "orders",
                                                  "lineitem", "documents", "embeddings")}
    views["events"] = f"{live}/*.parquet"
    oracle = Oracle(views)
    oracle.load([name for name, _ in REGISTRY], sql)
    live_digest = oracle.con.execute(_DIGEST.format(f"{live}/*.parquet")).fetchone()
    serving_keys = sorted(f"{r[0]}_{r[1]}" for r in oracle.con.execute(
        "SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR), hour(ts) FROM events").fetchall())
    ctx.excluded_s += time.time() - t0

    spark = ctx.session("lambdabench-batch_cycle")
    from bda_spadochrony_spark.sources import writers
    queries = entry.queries()

    def compact():
        shutil.rmtree(hist, ignore_errors=True)
        return writers.compact(spark, live, hist, target_files=ctx.nproc)

    def registry_job(session, name, collect):
        return lambda: materialise(ctx, name, queries[name](session, lake), collect)

    def serving_job(session, path):
        return lambda: writers.write_serving_table(
            queries["hourly_with_mode"](session, lake), path,
            writers.serving_key("date", "hour"))

    def warm_jobs():
        """The warm-up round: every job of a pass at once, each in a session
        of its own so the jobs' conf changes cannot leak between threads.
        The lake's jobs wait for the compaction; the corpus jobs do not."""
        compacted = threading.Event()

        def compaction():
            try:
                return compact()
            finally:
                compacted.set()

        def after_compaction(fn):
            def job():
                compacted.wait()
                return fn()
            return job
        jobs = [("compact", compaction)]
        jobs += [(n, registry_job(spark.newSession(), n, True)) for n, _ in DEDUP_JOBS]
        jobs += [(n, after_compaction(registry_job(spark.newSession(), n, True)))
                 for n, _ in BATCH_JOBS]
        jobs.append(("serving", after_compaction(serving_job(spark.newSession(), serving))))
        return jobs

    def one_pass():
        """Returns (pass seconds, [(job, seconds)], results). The historical
        table of the previous pass is removed before the timer starts."""
        shutil.rmtree(hist, ignore_errors=True)
        times, results = [], {}

        def timed(name, fn):
            dt, results[name] = run_job(ctx, name, fn)
            times.append((name, dt))
        t_pass = time.perf_counter()
        timed("compact", lambda: writers.compact(spark, live, hist, target_files=ctx.nproc))
        for name, collect in BATCH_JOBS:
            timed(name, registry_job(spark, name, collect))
        timed("serving", serving_job(spark, serving))
        for name, collect in DEDUP_JOBS:
            timed(name, registry_job(spark, name, collect))
        return time.perf_counter() - t_pass, times, results

    def check_pass(results) -> None:
        digest = oracle.con.execute(_DIGEST.format(f"{hist}/*.parquet")).fetchone()
        if digest != live_digest:
            ctx.fail("compact", f"historical {digest} != live {live_digest}")
        keys = sorted(r[0] for r in oracle.con.execute(
            f"SELECT row_key FROM read_parquet('{serving}/*.parquet')").fetchall())
        if keys != serving_keys:
            ctx.fail("serving", f"{len(keys)} row keys vs {len(serving_keys)} expected")
        for name, _ in REGISTRY:
            rows = results.get(name)
            if rows is not None:
                oracle.check(ctx, name, rows, rows[0].__fields__ if rows else
                             oracle.expected[name][0])

    input_rows = N_EVENTS + sum(facts["tables"][t]["rows"] for t in views if t != "events")
    return closed_loop(ctx, warm_jobs, one_pass, check_pass, input_rows)
