"""Sink/compaction tests (SURVEY §2.1 S5-S7, S13)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from bda_spadochrony_spark.sources.readers import scan
from bda_spadochrony_spark.sources.writers import (compact, serving_key,
                                                   write_parquet,
                                                   write_serving_table,
                                                   foreach_partition_sink)


def test_write_parquet_partitioned_and_pruned(spark):
    base = tempfile.mkdtemp(prefix="bda_w_")
    try:
        df = spark.createDataFrame(
            [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
             ("2024-01-02", 3, 30.0)], ["date", "id", "v"])
        write_parquet(df, base, partition_by=["date"], target_files=1)
        assert os.path.isdir(os.path.join(base, "date=2024-01-01"))
        back = scan(spark, base).filter(F.col("date") == "2024-01-02")
        # partition pruning: only the matching partition dir is scanned
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert back.count() == 1
        assert "PartitionFilters: [isnotnull(date" in plan
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compact_merges_and_purges(spark):
    base = tempfile.mkdtemp(prefix="bda_c_")
    live, hist = os.path.join(base, "live"), os.path.join(base, "hist")
    try:
        for i in range(3):  # three live micro-files
            spark.range(i * 10, i * 10 + 10).coalesce(1) \
                .write.mode("append").parquet(live)
        n_live = len(glob.glob(os.path.join(live, "*.parquet")))
        assert n_live == 3
        n = compact(spark, live, hist, target_files=1, purge_live=True)
        assert n == 3
        assert len(glob.glob(os.path.join(hist, "*.parquet"))) == 1  # compacted
        assert glob.glob(os.path.join(live, "*.parquet")) == []      # purged
        assert sorted(r["id"] for r in spark.read.parquet(hist).collect()) == list(range(30))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compact_empty_live_is_noop(spark):
    base = tempfile.mkdtemp(prefix="bda_c0_")
    try:
        assert compact(spark, os.path.join(base, "missing"),
                       os.path.join(base, "hist")) == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_serving_table_keys_and_stringified_cells(spark):
    base = tempfile.mkdtemp(prefix="bda_s_")
    try:
        df = spark.createDataFrame([("2024-01-01", 7, 3, 12.5)],
                                   ["date", "hour", "cnt", "avg_v"])
        write_serving_table(df, base, key=serving_key("date", "hour"))
        row = spark.read.parquet(base).first()
        assert row["row_key"] == "2024-01-01_7"       # reference key format
        assert row["cnt"] == "3" and row["avg_v"] == "12.5"  # stringified cells
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_serving_key_timestamp_format(spark):
    df = spark.createDataFrame([("2024-01-01 12:34:56",)], ["ts"]) \
        .withColumn("ts", F.to_timestamp("ts"))
    out = df.select(serving_key("ts", fmt="yyyy-MM-dd_HH-mm").alias("k")).first()
    assert out["k"] == "2024-01-01_12-34"             # stream_combined key format


def test_foreach_partition_sink_runs_per_partition(spark):
    base = tempfile.mkdtemp(prefix="bda_fp_")
    try:
        df = spark.range(100).repartition(4)

        def writer(rows):
            import os as _os
            import uuid as _uuid
            n = sum(1 for _ in rows)
            with open(_os.path.join(base, f"part_{_uuid.uuid4().hex}.txt"), "w") as f:
                f.write(str(n))

        foreach_partition_sink(df, writer)
        parts = glob.glob(os.path.join(base, "part_*.txt"))
        assert len(parts) == 4
        assert sum(int(open(p).read()) for p in parts) == 100
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_scan_reads_json_and_csv(spark):
    """S1 across formats: the scan factory reads json/csv with declared
    schemas (the engine's source surface beyond parquet)."""
    import tempfile
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    base = tempfile.mkdtemp(prefix="bda_fmt_")
    try:
        df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)],
                                   ["id", "tag", "v"])
        df.write.mode("overwrite").json(base + "/j")
        df.write.mode("overwrite").option("header", True).csv(base + "/c")
        schema = StructType([StructField("id", LongType()),
                             StructField("tag", StringType()),
                             StructField("v", DoubleType())])
        back_j = scan(spark, base + "/j", schema=schema, fmt="json")
        back_c = spark.read.schema(schema).option("header", True).csv(base + "/c")
        assert sorted(map(tuple, back_j.collect())) == sorted(map(tuple, df.collect()))
        assert sorted(map(tuple, back_c.collect())) == sorted(map(tuple, df.collect()))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_scan_repeat_of_unchanged_path_issues_no_job(spark, jobs_issued):
    """The first schema-less scan() runs Spark's inference job; a repeat
    of the unchanged path passes the memoized schema back and runs none."""
    base = tempfile.mkdtemp(prefix="bda_memo_")
    try:
        spark.range(5).write.parquet(base + "/p")
        first, n_first = jobs_issued(lambda: scan(spark, base + "/p"))
        again, n_again = jobs_issued(lambda: scan(spark, base + "/p"))
        assert n_first >= 1 and n_again == 0, (n_first, n_again)
        assert again.schema == first.schema
        assert sorted(r[0] for r in again.collect()) == list(range(5))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_scan_rewritten_path_is_reinferred(spark, jobs_issued):
    """Rewriting the files under a path changes their (mtime, size)
    identity: the next scan() infers afresh and sees the new schema."""
    base = tempfile.mkdtemp(prefix="bda_memo_")
    try:
        spark.range(3).write.parquet(base + "/p")
        assert scan(spark, base + "/p").columns == ["id"]
        (spark.range(3).withColumn("v", F.col("id") * 2)
         .write.mode("overwrite").parquet(base + "/p"))
        back, jobs = jobs_issued(lambda: scan(spark, base + "/p"))
        assert jobs >= 1
        assert back.columns == ["id", "v"]
        assert sorted(map(tuple, back.collect())) == [(0, 0), (1, 2), (2, 4)]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_scan_memo_keys_on_inference_conf(spark, conf_override):
    """One file read under inferTimestampNTZ true and false yields both
    schemas, in either order: the memo keys on the conf."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType, TimestampType
    base = tempfile.mkdtemp(prefix="bda_memo_")
    try:
        # a wall-clock (isAdjustedToUTC=false) microsecond timestamp
        pq.write_table(pa.table({"t": pa.array(
            [datetime.datetime(2024, 1, 1, 12)], pa.timestamp("us"))}),
            base + "/ntz.parquet")
        key = "spark.sql.parquet.inferTimestampNTZ.enabled"
        seen = []
        for flag in ("true", "false", "true", "false"):
            conf_override({key: flag})
            seen.append(type(scan(spark, base).schema["t"].dataType))
        assert seen == [TimestampNTZType, TimestampType] * 2
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_upsert_parquet_replaces_and_appends(spark):
    import tempfile
    from bda_spadochrony_spark.sources.writers import upsert_parquet
    base = tempfile.mkdtemp(prefix="bda_up_")
    target = os.path.join(base, "t")
    try:
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]) \
            .write.parquet(target)
        upsert_parquet(spark,  target,
                       spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]),
                       keys=["k"])
        got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
        assert got == {1: "a", 2: "B", 3: "c"}
        # upsert into a non-existent target creates it
        t2 = os.path.join(base, "t2")
        upsert_parquet(spark, t2, spark.createDataFrame([(9, "z")], ["k", "v"]), ["k"])
        assert spark.read.parquet(t2).count() == 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_upsert_parquet_partitioned_touches_only_affected(spark):
    import tempfile
    from pyspark.sql import functions as F
    from bda_spadochrony_spark.sources.writers import upsert_parquet_partitioned
    base = tempfile.mkdtemp(prefix="bda_upp_")
    target = os.path.join(base, "t")
    try:
        initial = spark.createDataFrame(
            [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (4, "d3", "d")],
            ["k", "p", "v"])
        n = upsert_parquet_partitioned(spark, target, initial, ["k"], "p")
        assert n == 3
        # remember d3's file inode-ish identity (mtime set) to prove no rewrite
        d3_dir = os.path.join(target, "p=d3")
        before = sorted(os.listdir(d3_dir))

        updates = spark.createDataFrame(
            [(2, "d1", "B"), (5, "d2", "e")], ["k", "p", "v"])
        n = upsert_parquet_partitioned(spark, target, updates, ["k"], "p")
        assert n == 2                       # only d1 and d2 rewritten
        assert sorted(os.listdir(d3_dir)) == before   # d3 untouched on disk

        got = {r["k"]: (r["p"], r["v"])
               for r in spark.read.parquet(target).collect()}
        assert got == {1: ("d1", "a"), 2: ("d1", "B"), 3: ("d2", "c"),
                       4: ("d3", "d"), 5: ("d2", "e")}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_upsert_parquet_partitioned_null_partition(spark):
    import tempfile
    from bda_spadochrony_spark.sources.writers import upsert_parquet_partitioned
    base = tempfile.mkdtemp(prefix="bda_uppn_")
    target = os.path.join(base, "t")
    try:
        initial = spark.createDataFrame(
            [(1, None, "a"), (2, None, "b"), (3, "d1", "c")],
            "k long, p string, v string")
        upsert_parquet_partitioned(spark, target, initial, ["k"], "p")
        updates = spark.createDataFrame(
            [(2, None, "B"), (4, None, "d")], "k long, p string, v string")
        upsert_parquet_partitioned(spark, target, updates, ["k"], "p")
        got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
        # pre-existing NULL-partition rows survive the merge
        assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_upsert_partitioned_failed_swap_rolls_back(spark, monkeypatch):
    """If promoting a staged partition fails after the live partition was
    moved aside, the partition must be rolled back in place — readers never
    see it vanish with its data stranded in a __old dir."""
    import tempfile
    from bda_spadochrony_spark.sources.writers import upsert_parquet_partitioned
    base = tempfile.mkdtemp(prefix="bda_uproll_")
    target = os.path.join(base, "t")
    try:
        initial = spark.createDataFrame(
            [(1, "d1", "a"), (2, "d2", "b")], ["k", "p", "v"])
        upsert_parquet_partitioned(spark, target, initial, ["k"], "p")

        real_replace = os.replace

        def failing_replace(src, dst):
            if "__staging_" in src and dst.endswith("p=d1"):
                raise OSError("injected promote failure")
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", failing_replace)
        updates = spark.createDataFrame([(1, "d1", "A")], ["k", "p", "v"])
        with pytest.raises(OSError, match="injected"):
            upsert_parquet_partitioned(spark, target, updates, ["k"], "p")
        monkeypatch.undo()

        assert os.path.isdir(os.path.join(target, "p=d1"))   # rolled back
        assert not [e for e in os.listdir(base) if "__staging_" in e]
        got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
        assert got == {1: "a", 2: "b"}                       # original data
    finally:
        shutil.rmtree(base, ignore_errors=True)
