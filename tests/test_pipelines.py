"""Reference-parity pipeline tests over FIXTURES-shaped frames, each
checked against an independent driver-side computation (pure Python on the
same fixture rows — an oracle Spark never touches)."""

from __future__ import annotations

import collections
import statistics

from pyspark.sql import functions as F

from bda_spadochrony_spark.plans.pipelines import (weather_hourly, stock_hourly,
                                                   traffic_hourly)
from tests.fixtures import weather_rows, stock_rows, tomtom_rows


def test_weather_hourly_counts_and_modes(spark):
    rows, cols = weather_rows()
    df = spark.createDataFrame(rows, cols)
    out = {(str(r["date"]), r["hour"]): r for r in weather_hourly(df).collect()}
    # python oracle
    by_key = collections.defaultdict(list)
    for r in rows:
        ts = r[-1]
        by_key[(str(ts.date()), ts.hour)].append(r)
    assert set(out) == set(by_key)
    for k, group in by_key.items():
        assert out[k]["cnt"] == len(group)
        want_avg_temp = round(statistics.fmean(g[0] for g in group) + 1e-6, 2)
        assert abs(out[k]["avg_temp"] - want_avg_temp) < 1e-9
        # mode with larger-value tie-break
        counts = collections.Counter(g[7] for g in group)
        best = max(counts.items(), key=lambda kv: (kv[1], kv[0]))[0]
        assert out[k]["mode_weather_main"] == best


def test_stock_hourly_timezone_and_skew(spark):
    rows, cols = stock_rows()
    df = spark.createDataFrame(rows, cols)
    out = weather = stock_hourly(df).collect()
    assert len(out) > 0
    # NY wall-clock: 14:00 UTC on Mar 1 (EST, UTC-5) − 20 min skew → 08:40 → hour 8
    first = sorted(out, key=lambda r: (str(r["date"]), r["hour"]))[0]
    assert first["hour"] == 8
    assert "avg_vwap" in first.asDict() and first["cnt"] > 0


def test_traffic_hourly_avg_of_avgs(spark):
    rows, cols = tomtom_rows()
    df = spark.createDataFrame(rows, cols)
    got = {(str(r["date"]), r["hour"], r["iconCategory"]): r
           for r in traffic_hourly(df).collect()}
    # python oracle: NY wall clock (fixture is 2024-03-01, EST = UTC−5),
    # inner-join fine semantics (a fine group needs ≥1 non-null delay AND
    # ≥1 non-null length to survive), avg of UNROUNDED fine means, round
    # at the coarse level only — the reference's exact shape.
    from datetime import timedelta
    fine = collections.defaultdict(lambda: ([], []))
    for ic, iid, prob, delay, mag, length, ts in rows:
        ny = ts - timedelta(hours=5)
        d, l = fine[(str(ny.date()), ny.hour, ic, iid)]
        d.append(delay), l.append(length)
    coarse = collections.defaultdict(lambda: ([], 0))
    for (d, h, ic, iid), (delays, lengths) in fine.items():
        nd = [x for x in delays if x is not None]
        nl = [x for x in lengths if x is not None]
        if nd and nl:
            avgs, n = coarse[(d, h, ic)]
            avgs.append(statistics.fmean(nd))
            coarse[(d, h, ic)] = (avgs, n + 1)
    assert set(got) == set(coarse)
    for key, (fine_avgs, n_inc) in coarse.items():
        want = round(statistics.fmean(fine_avgs) + 1e-6, 2)
        assert abs(got[key]["avg_avg_delay"] - want) < 1e-9, key
        assert got[key]["n_incidents"] == n_inc
        assert got[key]["coarse_mode_mag"] is not None


def _traffic_edge_rows():
    """tomtom fixture rows with INTEGRAL delay, plus the edge groups:
    NULL keys, prob/mag mode ties, a NULL-majority prob, and fine
    groups whose delays (or lengths) are all NULL."""
    from datetime import datetime
    rows, cols = tomtom_rows()
    rows = [(ic, iid, p, None if d is None else int(d), m, ln, ts)
            for ic, iid, p, d, m, ln, ts in rows]
    t = datetime(2024, 3, 1, 8, 30)
    rows += [
        ("1", None, "certain", 10, "1", 100.0, t),          # NULL id
        (None, "inc1", "certain", 10, "1", 100.0, t),       # NULL category
        ("1", "inc1", "certain", 10, "1", 100.0, None),     # NULL time
        ("edge", "tie", "certain", 5, "1", 10.0, t),        # 2:2 ties on
        ("edge", "tie", "certain", 6, "1", 20.0, t),        # prob and mag
        ("edge", "tie", "risk_of", 7, "3", 30.0, t),
        ("edge", "tie", "risk_of", 8, "3", None, t),
        ("edge", "nodelay", "certain", None, "4", 50.0, t),  # all delays NULL
        ("edge", "nodelay", "certain", None, "4", 60.0, t),
        ("edge", "nolength", "certain", 9, "4", None, t),    # all lengths NULL
        ("nullmode", "n", None, 1, "0", 5.0, t),            # NULL prob wins
        ("nullmode", "n", None, 2, "0", 5.0, t),
        ("nullmode", "n", "probable", 3, "2", 5.0, t),
    ]
    return rows, cols


def test_traffic_hourly_single_scan_matches_reference(spark, conf_override):
    """The production plan reads its source ONCE (one parquet FileScan —
    the reference's shape scans it 9 times) and equals the tests/
    reference row for row under ANSI, on NULL keys, mode ties, all-NULL
    delay/length groups and an integral delay column."""
    import shutil
    import tempfile
    from bda_spadochrony_spark.sources.readers import scan
    from tests.references import traffic_hourly_reference
    conf_override({"spark.sql.ansi.enabled": "true"})
    rows, cols = _traffic_edge_rows()
    base = tempfile.mkdtemp(prefix="bda_traffic_")
    try:
        (spark.createDataFrame(rows, "iconCategory string, id string, "
                               "probabilityOfOccurrence string, delay int, "
                               "magnitudeOfDelay string, length double, "
                               "observationTime timestamp")
         .write.mode("overwrite").parquet(base + "/t"))
        src = scan(spark, base + "/t")
        out = traffic_hourly(src)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1, plan
        want = traffic_hourly_reference(src)
        assert out.schema == want.schema
        got = [tuple(r) for r in out.collect()]
        assert got == [tuple(r) for r in want.collect()]
        assert None not in {r[2] for r in got}
        edge = {r[2]: r for r in got if r[2] in ("edge", "nullmode")}
        # only "tie" survives in "edge": its 2:2 ties go to the larger
        # value; "nullmode"'s NULL probability outnumbers "probable"
        assert edge["edge"][3:] == (1, 6.5, 20.0, "risk_of", "3")
        assert edge["nullmode"][3:] == (1, 2.0, 5.0, None, "0")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fused_stream_join_with_inference(spark):
    """stream_combined parity: JSON payload streams → typed parse → feature
    + model branch → watermarked full-outer interval join → foreachBatch
    parquet serving sink."""
    import json
    import os
    import shutil
    import tempfile
    from datetime import datetime, timedelta

    from pyspark.sql.types import (DoubleType, StringType, StructField,
                                   StructType, TimestampType)
    from bda_spadochrony_spark.plans.stream_fused import (parse_stream,
                                                          fused_stream_join,
                                                          serving_batch_writer)
    from bda_spadochrony_spark.streaming.runner import run_foreach_batch

    base = tempfile.mkdtemp(prefix="bda_fused_")
    ldir, rdir, sink = [os.path.join(base, x) for x in ("l", "r", "serving")]
    try:
        t0 = datetime(2024, 3, 1, 12, 0, 0)
        lraw = [(json.dumps({"temp": str(10 + i), "wm": "Rain",
                             "ts": (t0 + timedelta(minutes=i)).isoformat()}),)
                for i in range(10)] + \
               [(json.dumps({"temp": "0", "wm": "Clear",
                             "ts": (t0 + timedelta(hours=3)).isoformat()}),)]
        rraw = [(json.dumps({"price": str(100 + i),
                             "ts": (t0 + timedelta(minutes=i, seconds=10)).isoformat()}),)
                for i in range(5)] + \
               [(json.dumps({"price": "1",
                             "ts": (t0 + timedelta(hours=5)).isoformat()}),)]
        spark.createDataFrame(lraw, ["data"]).coalesce(1).write.json(ldir)
        spark.createDataFrame(rraw, ["data"]).coalesce(1).write.json(rdir)

        lschema = StructType([StructField("temp", DoubleType()),
                              StructField("wm", StringType()),
                              StructField("ts", TimestampType())])
        rschema = StructType([StructField("price", DoubleType()),
                              StructField("ts", TimestampType())])
        lstream = spark.readStream.schema(StructType([StructField("data", StringType())])) \
            .json(ldir)
        rstream = spark.readStream.schema(StructType([StructField("data", StringType())])) \
            .json(rdir)
        left = parse_stream(lstream, "data", lschema, "ts") \
            .withColumnRenamed("ts", "ts_l")
        right = parse_stream(rstream, "data", rschema, "ts") \
            .withColumnRenamed("ts", "ts_r")
        joined = fused_stream_join(left, right, "ts_l", "ts_r",
                                   categorical=("wm", ["Rain", "Clear"]),
                                   tolerance_seconds=30.0)
        q = run_foreach_batch(joined, serving_batch_writer(sink),
                              available_now=True)
        q.awaitTermination(120)
        out = spark.read.parquet(sink)
        rows = out.collect()
        matched = [r for r in rows if r["temp"] is not None and r["price"] is not None]
        assert len(matched) == 5              # 5 within ±30 s
        assert all(r["wm_Rain"] == 1 for r in matched)
        unmatched_left = [r for r in rows if r["price"] is None and r["temp"] is not None]
        assert len(unmatched_left) >= 5       # sealed feature-only rows
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_serving_batch_writer_is_idempotent_on_replay(spark):
    """foreachBatch is at-least-once: a replayed epoch reruns the callback
    with the SAME batch_id. The sink must not duplicate its rows."""
    import os
    import shutil
    import tempfile

    from bda_spadochrony_spark.plans.stream_fused import serving_batch_writer

    sink = tempfile.mkdtemp(prefix="bda_srv_")
    try:
        path = os.path.join(sink, "t")
        write = serving_batch_writer(path)
        b0 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        write(b0, 0)
        write(b0, 0)                      # replay of epoch 0
        write(spark.createDataFrame([(3, "c")], ["k", "v"]), 1)
        got = spark.read.parquet(path)
        assert sorted((r["k"], r["v"]) for r in got.collect()) == \
            [(1, "a"), (2, "b"), (3, "c")]
        assert "batch_id" in got.columns  # partition column visible to readers
    finally:
        shutil.rmtree(sink, ignore_errors=True)
