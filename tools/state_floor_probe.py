"""Profile the streaming state floor (VERDICT r8 item 3).

The s-rows cost ~85s of the 217s sf0.1 bench, dominated by per-query
micro-batch + RocksDB state-store overhead that BENCH_NOTES calls
SF-flat. This probe times a chosen set of streaming catalog rows under
one named config VARIANT per process (a fresh JVM per variant keeps
store-provider and RocksDB confs honest — several are read once per
query or per provider load), with the shared replay staging pre-paid
exactly like bench.py so timings measure the engine.

Variants:
  base     — the shipped defaults (RocksDB provider, changelog
             checkpointing, STATE_SHARDS=8 derived by the runner)
  shards4 / shards2 / shards1
           — pin ksl.state.partitions (wins over the derived count):
             is 8 still too many live RocksDB instances for KB-state?
  notrack  — RocksDB trackTotalNumberOfRows=false: drops the per-commit
             row-count maintenance (metrics-only feature, puts/gets
             untouched)
  hdfs     — HDFSBackedStateStoreProvider: the in-memory store, as the
             lower-bound comparator for what RocksDB's durability costs
             at KB-state scale (NOT the 100 TB choice)
  combo    — shards + notrack together at the best single-lever values

Usage: python tools/state_floor_probe.py VARIANT [sf_dir] [row ...]
Prints one JSON line {"variant":..., "total":..., "queries": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_ROWS = [
    "s01_stream_count_by_key",
    "s02_stream_tumbling_count",
    "s03_stream_fraud_alerts",
    "s04_stream_interval_join",
    "s05_stream_ktable_enrich",
    "s06_stream_sliding_count",
    "s07_stream_session_count",
    "s23_stream_outer_interval_join",
]

VARIANTS: dict[str, tuple[dict[str, str], dict[str, str]]] = {
    # (build-time conf, runtime conf) — runtime conf is applied with
    # spark.conf.set after session build (per-query streaming confs)
    "base": ({}, {}),
    "shards4": ({}, {"ksl.state.partitions": "4"}),
    "shards2": ({}, {"ksl.state.partitions": "2"}),
    "shards1": ({}, {"ksl.state.partitions": "1"}),
    "shards16": ({}, {"ksl.state.partitions": "16"}),
    "shards32": ({}, {"ksl.state.partitions": "32"}),
    "notrack": (
        {},
        {"spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows":
         "false"},
    ),
    "hdfs": (
        {"spark.sql.streaming.stateStore.providerClass":
         "org.apache.spark.sql.execution.streaming.state."
         "HDFSBackedStateStoreProvider"},
        {},
    ),
    "combo": (
        {},
        {"ksl.state.partitions": "4",
         "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows":
         "false"},
    ),
    # r14 levers for the write-dominated interval-join state (the floor
    # profile puts ~90% of s04/s23 in RocksDB write/commit machinery):
    # bigger memtables = fewer mid-batch flushes; no SST compression =
    # no codec CPU on the flushes that remain. Both are metrics/layout
    # choices, not semantics — results must stay hash-identical.
    "wbuf256": (
        {},
        {"spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB": "256",
         "spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber": "3"},
    ),
    "nocomp": (
        {},
        {"spark.sql.streaming.stateStore.rocksdb.compression": "none"},
    ),
    "wbuf_nocomp": (
        {},
        {"spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB": "256",
         "spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber": "3",
         "spark.sql.streaming.stateStore.rocksdb.compression": "none"},
    ),
    # r15: stream-stream join state format v3 (SPARK-49585 lineage,
    # shipped in Spark 4.1) — ONE RocksDB store with virtual column
    # families instead of FOUR stores per side-pair; cuts instance
    # open/commit rounds per micro-batch 4x and lets the keyToNumValues /
    # keyWithIndexToValue bookkeeping share a WAL+memtable. Layout-only:
    # results must stay hash-identical; fresh checkpoints per run so no
    # restart-compat concern. The r14 "not yet optimized #1" lever.
    "joinv3": (
        {"spark.sql.streaming.join.stateFormatVersion": "3"},
        {},
    ),
}


def main() -> int:
    variant = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    rows = sys.argv[3:] or DEFAULT_ROWS
    build_conf, run_conf = VARIANTS[variant]

    from kafka_streams_learning_spark import get_spark

    spark = get_spark(f"state-floor-{variant}", extra_conf=build_conf)
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in run_conf.items():
        spark.conf.set(k, v)

    # pre-pay shared staging exactly like bench.py (harness scaffolding)
    from kafka_streams_learning_spark.catalog_streaming import (
        REPLAY_CHUNKS,
        S24_LINEITEM_COLS,
    )
    from kafka_streams_learning_spark.sources.replay import shared_replay_table

    shared_replay_table(spark, sf_dir, "events", REPLAY_CHUNKS)
    shared_replay_table(spark, sf_dir, "documents", REPLAY_CHUNKS,
                        order_by="doc_id")
    shared_replay_table(spark, sf_dir, "orders", REPLAY_CHUNKS,
                        order_by="o_orderdate")
    shared_replay_table(
        spark, sf_dir, "orders", REPLAY_CHUNKS, order_by="o_orderdate",
        columns=("o_orderkey", "o_custkey", "o_orderdate"),
    )
    shared_replay_table(
        spark, sf_dir, "lineitem", REPLAY_CHUNKS, order_by="l_shipdate",
        columns=("l_orderkey", "l_linenumber", "l_extendedprice",
                 "l_shipdate"),
    )
    shared_replay_table(
        spark, sf_dir, "lineitem", REPLAY_CHUNKS, order_by="l_shipdate",
        columns=S24_LINEITEM_COLS,
    )

    from kafka_streams_learning_spark.catalog import all_queries

    specs = {s.name: s for s in all_queries()}
    timings: dict[str, float] = {}
    for name in rows:
        t0 = time.time()
        df = specs[name].spark(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 2)
        spark.catalog.clearCache()

    print(json.dumps({
        "variant": variant,
        "total": round(sum(timings.values()), 2),
        "queries": timings,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
