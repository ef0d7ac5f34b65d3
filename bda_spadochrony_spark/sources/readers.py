"""Batch sources: parquet-lake scans with schema conformance (SURVEY §2.1 S1-S4).

The reference hand-rolls a reader that globs a directory through the Hadoop
FileSystem JVM gateway, reads each file separately, casts column-by-column and
unions the pieces (reference ``pyspark/batch_stock.py:18-36``, duplicated 8×).
That produces N scan nodes + N−1 unions and defeats scan coalescing.

The engine's scan is a single multi-file read: Spark's InMemoryFileIndex does
the listing, the declared schema is applied at the scan (so parquet column
projection + filter pushdown still work), and schema drift across files is
absorbed by the reader instead of per-file unions. At 100 TB this is the
difference between one FileSourceScan with partition pruning and a
thousand-way union.
"""

from __future__ import annotations

import glob
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


# Per-file-set memo, LRU-bounded: the identity of a scan's data files —
# every file's (path, mtime_ns, size) — maps to what the driver learned
# from them: the NANOS columns of the footer probe and, per inference
# setting, Spark's inferred schema. A schema-less scan otherwise runs a
# one-task schema-inference job on every call (~77 ms against ~11 ms
# with the schema passed, local[4] on 4 vCPUs); the footer probe was
# measurable driver time too. A rewritten file changes its mtime/size and so its key.
_MEMO: "OrderedDict[tuple, dict]" = OrderedDict()
_MEMO_MAX = 256
_MEMO_LOCK = threading.Lock()
# session confs that change what parquet schema inference returns
_INFER_CONFS = ("spark.sql.parquet.inferTimestampNTZ.enabled",
                "spark.sql.legacy.parquet.nanosAsLong",
                "spark.sql.parquet.binaryAsString",
                "spark.sql.parquet.int96AsTimestamp",
                "spark.sql.parquet.mergeSchema",
                "spark.sql.sources.partitionColumnTypeInference.enabled")


def _hidden(name: str) -> bool:
    """Spark's file-index filter: ``_``/``.`` names (``_SUCCESS``,
    ``.crc``, ``_temporary``) hold no data; ``_x=v`` partitions do."""
    return (name.startswith(".") or name.endswith("._COPYING_")
            or (name.startswith("_") and "=" not in name))


def _file_set(path: str) -> tuple | None:
    """``(path, mtime_ns, size)`` of every data file a scan of ``path``
    reads, sorted — or None when the driver cannot list it (a remote
    URI, a brace glob, a missing or empty path): then nothing is
    memoized and scans behave as without the memo."""
    if path.startswith("file:"):
        path = "/" + path[5:].lstrip("/")
    elif "://" in path or "{" in path:
        return None
    roots = sorted(glob.glob(path)) if any(ch in path for ch in "*?[") else [path]
    files = []
    for root in roots:
        if os.path.isfile(root):
            files.append(root)
        for d, dirs, names in os.walk(root):
            dirs[:] = [x for x in dirs if not _hidden(x)]
            files += [os.path.join(d, n) for n in names if not _hidden(n)]
    out = []
    for f in sorted(files):
        try:
            st = os.stat(f)
        except OSError:
            return None
        out.append((f, st.st_mtime_ns, st.st_size))
    return tuple(out) or None


def _memo(files: tuple) -> dict:
    """The memo entry of one file set (created empty), marked recent."""
    with _MEMO_LOCK:
        entry = _MEMO.pop(files, None)
        _MEMO[files] = entry = {} if entry is None else entry
        while len(_MEMO) > _MEMO_MAX:
            _MEMO.popitem(last=False)
        return entry


def _nanos_timestamp_cols(path: str, files: tuple | None = None) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark 4 refuses to
    read as TimestampType (PARQUET_TYPE_ILLEGAL). Detected driver-side from
    one footer via pyarrow — cheap (no data read) and list-stable across
    files written by one producer. Memoized per file set; ``files`` is
    ``path``'s listing when the caller already has it."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return []
    files = files or _file_set(path)
    if files is None:
        return []
    entry = _memo(files)
    if "nanos" in entry:
        return entry["nanos"]
    try:
        probe = next((f for f, _, _ in files if f.endswith(".parquet")), files[0][0])
        schema = pq.ParquetFile(probe).schema  # parquet (physical) schema
    except Exception:
        return []
    # Only INT64/TIMESTAMP(NANOS) needs the workaround. INT96 timestamps
    # (Spark's own legacy output) also surface as ns in the ARROW schema but
    # read fine as TimestampType — hence the physical-schema check.
    out = []
    for i in range(len(schema)):
        col = schema.column(i)
        if ("." in col.path):  # nested — leave alone
            continue
        if col.physical_type == "INT64" and "nanoseconds" in str(col.logical_type):
            out.append(col.name)
    entry["nanos"] = out
    return out


def scan(spark: SparkSession, path: str, schema: StructType | None = None,
         fmt: str = "parquet", drop: list[str] | None = None,
         options: dict[str, str] | None = None) -> DataFrame:
    """Single-scan replacement for the reference's glob-and-union reader
    (``pyspark/batch_stock.py:18-36``).

    With ``schema`` the scan reads exactly the declared columns/types —
    parquet readers cast compatible physical types at scan time and
    null-fill files that miss a column, which subsumes the reference's
    ``unionByName(allowMissingColumns=True)`` drift handling
    (``pyspark/batch_stock.py:35``). ``drop`` removes known junk columns
    (reference drops ``UNNAMED_FIELD``/``wind_deg``/``timeValidity`` —
    ``pyspark/ML_stock.py:80``, ``merge_openweather.py:78``,
    ``ML_tomtom.py:156``) — with a declared schema they are simply never
    read, which is the pushed-down version of ``drop``. ``options`` passes
    format options through (e.g. ``{"header": "true"}`` for CSV).
    """
    # NANOS-precision parquet timestamps: Spark 4 reads them only as epoch
    # longs (``nanosAsLong``); the engine converts back to TimestampType at
    # microsecond precision (``ns div 1000`` — same truncation DuckDB and
    # pyarrow apply), so downstream operators always see real timestamps.
    files = _file_set(path) if fmt == "parquet" else None
    nanos_cols = _nanos_timestamp_cols(path, files) if fmt == "parquet" else []
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read.format(fmt)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    inferred = None
    if schema is not None:
        if nanos_cols:
            schema = StructType([
                StructField(f.name, LongType(), f.nullable) if f.name in nanos_cols else f
                for f in schema.fields])
        reader = reader.schema(schema)
    elif files is not None:
        # Spark's own inference, memoized: a hit passes it back as the
        # declared schema and skips the inference job
        entry = _memo(files)
        inferred = (tuple(spark.conf.get(k, None) for k in _INFER_CONFS),
                    tuple(sorted((options or {}).items())))
        if inferred in entry:
            reader = reader.schema(entry[inferred])
    df = reader.load(path)
    if inferred is not None:
        entry.setdefault(inferred, df.schema)
    for c in nanos_cols:
        if c in df.columns:
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    if drop:
        df = df.drop(*[c for c in drop if c in df.columns])
    return df


def conform(df: DataFrame, schema: StructType, keep_extra: bool = False) -> DataFrame:
    """Cast/align a drifted DataFrame to a declared schema in ONE projection.

    Engine version of the reference's ``cast_columns_to_schema``
    (``pyspark/batch_stock.py:11-16``, 8 copies) which chains a
    ``withColumn`` per field — each ``withColumn`` adds a Project node;
    one ``select`` keeps the plan flat and lets whole-stage codegen fuse
    every cast. Missing columns are added as typed nulls (the
    ``allowMissingColumns`` semantics of S4).
    """
    cols = []
    for field in schema.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    if keep_extra:
        declared = {f.name for f in schema.fields}
        cols.extend(F.col(c) for c in df.columns if c not in declared)
    return df.select(*cols)


def union_by_name(*dfs: DataFrame) -> DataFrame:
    """Schema-drift union (SURVEY §2.1 S4; reference
    ``pyspark/batch_stock.py:35``): union N frames by column name,
    null-filling columns absent on either side."""
    if not dfs:
        raise ValueError("union_by_name needs at least one DataFrame")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def parse_json_payload(df: DataFrame, payload_col: str, schema: StructType,
                       keep: list[str] | None = None) -> DataFrame:
    """JSON payload parse (SURVEY §2.1 S9; reference
    ``pyspark/stream_combined.py:49-69``).

    Parses against an all-string struct, then casts each field to the
    declared type in the same projection. The string detour is load-bearing:
    feed payloads quote their numerics (``{"temp": "12.5"}``) and Spark's
    ``from_json`` nulls a quoted number parsed directly into a numeric
    field — the reference's all-string-then-cast dance exists for this
    exact reason; the engine keeps the semantics but fuses it into one
    select. Works identically on batch and streaming DataFrames.
    """
    from pyspark.sql.types import StringType
    str_schema = StructType([StructField(f.name, StringType(), True)
                             for f in schema.fields])
    parsed = df.withColumn(
        "__data", F.from_json(F.col(payload_col).cast("string"), str_schema))
    out_cols = [F.col("__data." + f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields]
    out_cols += [F.col(c) for c in (keep or [])]
    return parsed.select(*out_cols)
