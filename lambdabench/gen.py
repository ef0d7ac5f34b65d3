"""Seeded inputs for the three workloads.

Everything the engine reads is generated here from the run's ``--seed``:
the same seed gives byte-identical tables (the speed-layer feeds differ
only in their wall-clock generator stamps). The document and embedding
generators of ``tools/gen_scale_data.py`` are reused with a seeded
``Generator``; the events table and the TPC-H-shaped dimensions are built
here, with Zipf-skewed keys.
"""

from __future__ import annotations

import base64
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.gen_scale_data import EVENT_TYPES, gen_documents, gen_embeddings

BROADCAST_THRESHOLD = 32 * 1024 * 1024  # engine's autoBroadcastJoinThreshold
_BASE_US = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


class ZipfKeys:
    """Keys ``0..n_keys-1`` with P(rank r) ∝ 1/r^exponent. Which key holds
    which rank is drawn once, so the hot keys are not simply the small ids
    and stay the same across draws."""

    def __init__(self, rng: np.random.Generator, n_keys: int, exponent: float):
        p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** exponent
        self.cdf = np.cumsum(p / p.sum())
        self.keys = rng.permutation(n_keys).astype(np.int64)

    def draw(self, rng: np.random.Generator, size: int) -> np.ndarray:
        ranks = np.minimum(np.searchsorted(self.cdf, rng.random(size)), len(self.keys) - 1)
        return self.keys[ranks]


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int,
              exponent: float = 1.1) -> np.ndarray:
    """``size`` Zipf-distributed draws from ``0..n_keys-1`` (see ``ZipfKeys``)."""
    return ZipfKeys(rng, n_keys, exponent).draw(rng, size)


def key_skew(keys: np.ndarray) -> dict:
    """Share of rows held by the hottest key and by the hottest 1% of keys."""
    counts = np.sort(np.unique(keys, return_counts=True)[1])[::-1]
    top = max(1, len(counts) // 100)
    return {"distinct": int(len(counts)),
            "top1_share": round(float(counts[0] / len(keys)), 4),
            "top1pct_share": round(float(counts[:top].sum() / len(keys)), 4)}


def gen_events(rng: np.random.Generator, n: int, n_users: int,
               days: int = 30) -> tuple[pa.Table, dict]:
    span_us = days * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    users = zipf_keys(rng, n_users, n)
    table = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array((_BASE_US + ts).astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([json.dumps({"k": int(x)}) for x in rng.integers(0, 100, n)],
                          pa.string()),
    })
    return table, key_skew(users)


def gen_star(rng: np.random.Generator, n_lineitem: int,
             orders_pad_bytes: int) -> tuple[dict[str, pa.Table], dict]:
    """TPC-H-shaped star: lineitem → orders → customer → nation → region.

    ``orders`` carries an incompressible comment column sized so that its
    file lands above the broadcast threshold, while customer, nation and
    region stay far below it. Order keys of lineitem are Zipf-skewed."""
    n_orders = max(1, n_lineitem // 4)
    n_cust = max(25, n_orders // 10)
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": pa.array(REGIONS, pa.string())})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2), pa.float64()),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)], pa.string())})
    pad = max(1, orders_pad_bytes // n_orders)
    raw = rng.integers(0, 256, n_orders * pad, dtype=np.uint8).tobytes()
    comments = [base64.b64encode(raw[i * pad:(i + 1) * pad]).decode()
                for i in range(n_orders)]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(zipf_keys(rng, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
                                  pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, n_orders), 2),
                                 pa.float64()),
        "o_orderdate": pa.array((_BASE_US + rng.integers(0, 7 * 365 * 86400, n_orders)
                                 * 1_000_000).astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPEC",
                                              "5-LOW"])[rng.integers(0, 5, n_orders)],
                                    pa.string()),
        "o_comment": pa.array(comments, pa.string())})
    okeys = zipf_keys(rng, n_orders, n_lineitem, exponent=0.8)
    lineitem = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n_lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_lineitem).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_lineitem), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lineitem) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lineitem) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitem)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lineitem)]),
        "l_shipdate": pa.array((_BASE_US + rng.integers(0, 7 * 365 * 86400, n_lineitem)
                                * 1_000_000).astype("datetime64[us]"), pa.timestamp("us"))})
    tables = {"region": region, "nation": nation, "customer": customer,
              "orders": orders, "lineitem": lineitem}
    return tables, {"l_orderkey": key_skew(okeys)}


def _file_facts(path: str, rows: int) -> dict:
    if os.path.isdir(path):
        size = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    else:
        size = os.path.getsize(path)
    return {"rows": rows, "bytes": size,
            "above_broadcast_threshold": size > BROADCAST_THRESHOLD}


def write_lake(root: str, seed: int, n_events: int, n_users: int,
               n_lineitem: int, live_files: int) -> dict:
    """The batch-layer lake: dimension tables at ``root/<t>.parquet`` and
    the events fact landed as ``live_files`` micro-files in ``root/live``
    (the live zone compaction reads). Returns the input facts."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    events, ev_skew = gen_events(rng, n_events, n_users)
    star, star_skew = gen_star(rng, n_lineitem, BROADCAST_THRESHOLD + (2 << 20))
    facts: dict = {"tables": {}, "key_skew": {"events.user_id": ev_skew}}
    for name, tbl in star.items():
        path = f"{root}/{name}.parquet"
        pq.write_table(tbl, path)
        facts["tables"][name] = _file_facts(path, tbl.num_rows)
    facts["key_skew"].update({f"lineitem.{k}": v for k, v in star_skew.items()})
    live = f"{root}/live"
    os.makedirs(live)
    step = -(-n_events // live_files)
    for i in range(live_files):
        pq.write_table(events.slice(i * step, step), f"{live}/part-{i:05d}.parquet")
    facts["tables"]["events_live"] = dict(_file_facts(live, n_events), files=live_files)
    return facts


def write_corpus(root: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Documents (Zipf vocabulary, planted exact and near copies) and
    clustered embeddings (2% near-duplicates) for the dedup/ANN jobs."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    facts: dict = {"tables": {}}
    for name, tbl in (("documents", gen_documents(n_docs, rng)),
                      ("embeddings", gen_embeddings(n_vecs, rng))):
        path = f"{root}/{name}.parquet"
        pq.write_table(tbl, path)
        facts["tables"][name] = _file_facts(path, tbl.num_rows)
    return facts


WEATHER_MAIN = ["Clear", "Clouds", "Rain", "Snow", "Mist", "Drizzle", "Fog"]
WEATHER_SCHEMA = pa.schema([("w_id", pa.int64()), ("w_station", pa.int64()),
                           ("w_ts", pa.timestamp("us")), ("weather_main", pa.string()),
                           ("temp", pa.float64()), ("humidity", pa.float64()),
                           ("w_gen", pa.float64())])
STOCK_SCHEMA = pa.schema([("s_id", pa.int64()), ("s_station", pa.int64()),
                         ("s_ts", pa.timestamp("us")), ("price", pa.float64()),
                         ("volume", pa.float64()), ("s_gen", pa.float64())])


class FeedGenerator:
    """Two seeded feeds for the speed layer. Tick ``i`` covers event time
    ``[i·tick_s, (i+1)·tick_s)`` after a fixed epoch; each tick yields one
    weather-like and one stock-like table of ``rows`` rows each. Only the
    generator stamp columns (``w_gen``/``s_gen``, wall-clock seconds of the
    tick's due time) depend on when the tick is landed. Both feeds share
    one Zipf popularity over the stations (exponent 0.5: about two matches
    per weather row at 40,000 stations and 500 stock rows/s)."""

    def __init__(self, seed: int, rows: int, tick_s: float, n_stations: int):
        self.seed, self.rows, self.tick_s = seed, rows, tick_s
        self.stations = ZipfKeys(np.random.default_rng([seed, 5]), n_stations, 0.5)

    def tick(self, i: int, due: float) -> tuple[pa.Table, pa.Table]:
        rng = np.random.default_rng([self.seed, 3, i])
        n, tick_us = self.rows, int(self.tick_s * 1_000_000)
        base = _BASE_US + i * tick_us
        gen = np.full(n, due)
        w_st = self.stations.draw(rng, n)
        weather = pa.table({
            "w_id": pa.array(i * n + np.arange(n), pa.int64()),
            "w_station": pa.array(w_st, pa.int64()),
            "w_ts": pa.array((base + rng.integers(0, tick_us, n)).astype("datetime64[us]"),
                             pa.timestamp("us")),
            "weather_main": pa.array(np.array(WEATHER_MAIN)[rng.integers(0, 7, n)]),
            "temp": pa.array(np.round(rng.normal(12, 8, n), 2)),
            "humidity": pa.array(np.round(rng.uniform(20, 100, n), 1)),
            "w_gen": pa.array(gen)}, schema=WEATHER_SCHEMA)
        s_st = self.stations.draw(rng, n)
        stock = pa.table({
            "s_id": pa.array(i * n + np.arange(n), pa.int64()),
            "s_station": pa.array(s_st, pa.int64()),
            "s_ts": pa.array((base + rng.integers(0, tick_us, n)).astype("datetime64[us]"),
                             pa.timestamp("us")),
            "price": pa.array(np.round(rng.lognormal(4, 0.5, n), 2)),
            "volume": pa.array(np.round(rng.exponential(1000, n))),
            "s_gen": pa.array(gen)}, schema=STOCK_SCHEMA)
        return weather, stock

    def training_frame(self, n: int) -> pa.Table:
        """Historical weather rows for the model fitted at set-up; the label
        is a noisy function of the features the stream also carries."""
        rng = np.random.default_rng([self.seed, 4])
        ts = _BASE_US - rng.integers(0, 365 * 86400, n) * 1_000_000
        main = rng.integers(0, 7, n)
        temp = np.round(rng.normal(12, 8, n), 2)
        hum = np.round(rng.uniform(20, 100, n), 1)
        label = 0.5 * temp - 0.1 * hum + 3.0 * (main == 2) + rng.normal(0, 1, n)
        return pa.table({
            "w_ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "weather_main": pa.array(np.array(WEATHER_MAIN)[main]),
            "temp": pa.array(temp), "humidity": pa.array(hum),
            "label": pa.array(label)})
