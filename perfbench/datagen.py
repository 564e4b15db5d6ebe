"""Seeded input generators for the benchmark.

The batch tables follow the shapes of the engine's sf fixtures and of the
repository's sf1 generators (``tools/gen_sf1_*``): the same ten tables and
schemas, uniform user keys with ~67 events per user, a 30-day event
window, TPC-H-like order/lineitem dates that are not correlated with each
other, ~4.5% near-duplicate and ~0.15% exact-duplicate documents, and
unit-norm 64-dimensional embeddings around 10 label centroids. Row counts
scale with ``scale`` (1.0 = sf1); documents and embeddings keep the
fixtures' floor of 500 rows.

The open-loop stream (``stream_batch``) is separate: one file per due
time, Zipf-distributed user keys, ``ts`` equal to the file's due time.

Every table draws from its own generator seeded with ``[seed, table
index]``, so the same seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"], object)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(
    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], object
)
P_TYPES = np.array(["ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD", "PROMO"], object)
ADJ = np.array(["large", "hot", "blue", "red", "small", "dim", "green", "plated"], object)
NOUN = np.array(["ring", "bolt", "washer", "spring", "gear", "pin", "rod", "cap"], object)
ORDER_STATUS = np.array(["F", "O", "P"], object)
ORDER_PRIO = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], object
)
VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
], object)
LANGS = np.array(["en", "zh", "es", "fr", "de"], object)
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]

EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 24 * 3600 * 1_000_000
ORDER_LO, ORDER_DAYS = np.datetime64("1995-01-01", "D"), 2404
SHIP_LO, SHIP_DAYS = np.datetime64("1995-01-02", "D"), 2498
EMB_DIM, EMB_LABELS = 64, 10
# events per user in the fixtures and the sf1 generators (sf0.1: 100k
# events over 1,500 users; tools/gen_sf1_probe_data.py: 1M over 15,000)
EVENTS_PER_USER = 1_000_000 / 15_000


def table_sizes(scale: float) -> dict[str, int]:
    """Row count per table at ``scale`` (1.0 = sf1)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * scale)),
        "supplier": max(10, round(10_000 * scale)),
        "part": max(10, round(200_000 * scale)),
        "orders": max(10, round(1_500_000 * scale)),
        "lineitem": max(10, round(6_000_000 * scale)),
        "events": max(10, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _event_values(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(rng.exponential(50.0, n), 2)


def _props(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], object)


def gen_events(rng: np.random.Generator, n: int) -> pa.Table:
    users = max(1, round(n / EVENTS_PER_USER))
    ts = np.sort(EVENT_T0 + rng.integers(0, EVENT_SPAN_US, n).astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(_event_values(rng, n), pa.float64()),
        "props": pa.array(_props(rng, n), pa.string()),
    })


def _days(rng: np.random.Generator, lo, span: int, n: int) -> pa.Array:
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def gen_region(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(n), pa.int32()),
        "r_name": pa.array(REGIONS[:n], pa.string()),
    })


def gen_nation(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(np.arange(n), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(n)], pa.string()),
        "n_regionkey": pa.array(np.arange(n) % 5, pa.int32()),
    })


def gen_customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.random(n) * 11_000.0 - 1000.0, 2), pa.float64()),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n)], pa.string()),
    })


def gen_supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.random(n) * 11_000.0 - 1000.0, 2), pa.float64()),
    })


def gen_part(rng: np.random.Generator, n: int) -> pa.Table:
    names = [f"{a} {b}" for a, b in zip(ADJ[rng.integers(0, 8, n)], NOUN[rng.integers(0, 8, n)])]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, n)], pa.string()),
        "p_type": pa.array(P_TYPES[rng.integers(0, 6, n)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2), pa.float64()),
    })


def gen_orders(rng: np.random.Generator, n: int, n_customer: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customer, n), pa.int64()),
        "o_orderstatus": pa.array(ORDER_STATUS[rng.integers(0, 3, n)], pa.string()),
        "o_totalprice": pa.array(np.round(1000.0 + rng.random(n) * 499_000.0, 2), pa.float64()),
        "o_orderdate": _days(rng, ORDER_LO, ORDER_DAYS, n),
        "o_orderpriority": pa.array(ORDER_PRIO[rng.integers(0, 5, n)], pa.string()),
    })


def gen_lineitem(rng: np.random.Generator, n: int, n_orders: int, n_part: int,
                 n_supplier: int) -> pa.Table:
    rf = np.array(["A", "N", "R"], object)
    ls = np.array(["F", "O"], object)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supplier, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64"), pa.float64()),
        "l_extendedprice": pa.array(np.round(900.0 + rng.random(n) * 104_100.0, 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rf[rng.integers(0, 3, n)], pa.string()),
        "l_linestatus": pa.array(ls[rng.integers(0, 2, n)], pa.string()),
        "l_shipdate": _days(rng, SHIP_LO, SHIP_DAYS, n),
    })


def gen_documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 100 and r < 0.0015:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 100 and r < 0.045:
            base = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                pos = int(rng.integers(max(0, len(base) - 6), len(base)))
                base[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    vecs = centroids[labels] + rng.normal(0.0, 0.35, size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at ``scale``, in a fixed order."""
    n = table_sizes(scale)
    makers = {
        "region": lambda r: gen_region(r, n["region"]),
        "nation": lambda r: gen_nation(r, n["nation"]),
        "customer": lambda r: gen_customer(r, n["customer"]),
        "supplier": lambda r: gen_supplier(r, n["supplier"]),
        "part": lambda r: gen_part(r, n["part"]),
        "orders": lambda r: gen_orders(r, n["orders"], n["customer"]),
        "lineitem": lambda r: gen_lineitem(
            r, n["lineitem"], n["orders"], n["part"], n["supplier"]
        ),
        "events": lambda r: gen_events(r, n["events"]),
        "documents": lambda r: gen_documents(r, n["documents"]),
        "embeddings": lambda r: gen_embeddings(r, n["embeddings"]),
    }
    return {
        name: make(np.random.default_rng([seed, idx]))
        for idx, (name, make) in enumerate(makers.items())
    }


def write_tables(out_dir: str, seed: int, scale: float) -> str:
    """Write the tables as ``<out_dir>/<table>.parquet``; a complete
    earlier write for the same seed and scale is reused."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate_tables(seed, scale).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as fh:
        fh.write(f"{seed} {scale}\n")
    return out_dir


# open-loop stream ----------------------------------------------------------

# The stream's keys are the users of the sf0.1-shaped events table
# (1,500). Their skew is the Zipf exponent YCSB uses for its default
# request distribution (Cooper et al., "Benchmarking Cloud Serving
# Systems with YCSB", SoCC 2010): 0.99.
STREAM_USERS = round(table_sizes(0.1)["events"] / EVENTS_PER_USER)
ZIPF_S = 0.99
# event time of the stream's first file; file i is stamped i periods later
STREAM_T0_US = int(EVENT_T0.astype("int64"))


def zipf_weights(n_keys: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    return w / w.sum()


def stream_batch(rng: np.random.Generator, index: int, rows: int,
                 event_us: int, weights: np.ndarray) -> pa.Table:
    """Events of landed file ``index``: ``rows`` events sharing the event
    time ``event_us`` (the file's due time on the stream clock, UTC
    micros), ids ``index * rows ...``, Zipf-distributed user keys."""
    return pa.table({
        "event_id": pa.array(np.arange(index * rows, (index + 1) * rows), pa.int64()),
        "ts": pa.array(np.full(rows, event_us, "int64"), pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.choice(len(weights), size=rows, p=weights), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, rows)], pa.string()),
        "value": pa.array(_event_values(rng, rows), pa.float64()),
        "props": pa.array(_props(rng, rows), pa.string()),
    })
