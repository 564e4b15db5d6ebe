"""The benchmark's workloads. Each run executes in a fresh child process
(``python3 -m perfbench.workloads <config json>``) started by ``run.py``,
which sets the environment the Spark JVM and its Python workers inherit.

The engine is called only through its public functions: ``get_spark``,
the catalog ``QuerySpec.spark`` callables, ``streaming.windows`` and
``streaming.stateful``. Every call is timed from outside and recorded as
a span.

- ``stream_open_loop``: a separate generator process lands one parquet
  file per period into a watched directory regardless of how fast Spark
  consumes it. Two pipelines run one after the other: the s02 shape
  (tumbling count, update mode) and the s03 shape (fraud alert,
  ``impl="sharded"``), each writing every micro-batch through a
  ``foreachBatch`` parquet sink that stamps the emit time after the
  write commits. A file's latency is the emit time of the batch that
  consumed it minus its due time.
- ``batch_pipeline``: thirteen catalog q- and x-rows, one at a time, in
  a fixed order, each once. The row list, not the clock, sets how much
  is measured, so every run takes the same samples.

Batch rows write their result to parquet inside the timed region; the
check reads that parquet back, so every measured result is checked
without a second execution.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager

from perfbench import measure, oracle
from perfbench.host import PeakRss, process_tree, wait_exited

# set-up is session start plus the workload's warm step; input
# generation happens before the child starts
SETUP_SPANS = ("session.get_spark", "catalog.warm")
# One row per operator module the catalog's batch rows use (core,
# sliding, joins, fraud, dedup, similarity, multimodal, textops,
# sketches), plus the rows the roadmap names for layer attribution (x07,
# x08, x21, x49). x39 is left out: without the shared-artifact warm
# (~40 s on a 4-core host) its one-time centroid training would dominate
# every run.
BATCH_ROWS = (
    "q04", "q05", "q06", "q07", "q08",
    "x04", "x07", "x08", "x09", "x14", "x21", "x49", "x54",
)
# Open loop: one file every PERIOD_S seconds of ROWS_PER_FILE events
# (20k events/s). Set-up runs the alert pipeline once over one pre-landed
# file: its first batch starts the Python workers (~10 s on a 4-core
# host). Each timed pipeline then first runs WARMUP_S seconds of its
# schedule, whose files are checked but left out of the latency figures,
# while the JIT settles.
PERIOD_S = 0.25
ROWS_PER_FILE = 5000
WARMUP_S = 6.0
START_LEAD_S = 1.0
# the alert pipeline runs first: the count pipeline's trigger time keeps
# falling with JIT warm-up for longer, and the alert run warms the code
# paths the two share (file source, shuffle, state store commit)
PIPELINES = ("alert", "count")
STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


class Spans:
    """Benchmark-side spans: name, start, end and parent span index."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.items)
        self.items.append({
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.items[idx]["end"] = time.time()

    def totals(self) -> dict[str, float]:
        """Seconds per span name, summed over its occurrences."""
        out: dict[str, float] = {}
        for s in self.items:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out


class Run:
    """State of one workload run: config, session, spans and record."""

    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.spans = Spans()
        self.record: dict = {"workload": cfg["workload"], "seed": cfg["seed"],
                             "seconds": cfg["seconds"], "trace": cfg["trace"],
                             "cpus": cfg["cpus"]}
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.feeder_pids: set[int] = set()
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.cfg["work_dir"], *parts)

    def fail(self, op: str, why: str) -> None:
        self.failures[op] = why


def catalog_specs() -> dict:
    """Catalog rows by short name (``q01``), in declaration order. The
    gate-rotation order of ``all_queries()`` is avoided on purpose: it
    changes whenever a correctness record lands."""
    from kafka_streams_learning_spark.catalog import REFERENCE_QUERIES
    from kafka_streams_learning_spark.catalog_ext import EXTENSION_QUERIES
    from kafka_streams_learning_spark.catalog_streaming import STREAMING_QUERIES

    return {
        q.name.split("_")[0]: q
        for q in REFERENCE_QUERIES + STREAMING_QUERIES + EXTENSION_QUERIES
    }


def start_session(run: Run) -> None:
    from kafka_streams_learning_spark import get_spark

    cfg = run.cfg
    extra = {}
    if cfg["trace"]:
        extra = {
            "spark.eventLog.enabled": "true",
            # the fold reads plain JSON lines; the default zstd codec
            # would need the optional zstandard module to read
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + cfg["event_log_dir"],
        }
    with run.spans.span("session.get_spark"):
        run.spark = get_spark(
            f"perfbench-{cfg['workload']}", master=f"local[{cfg['cpus']}]",
            extra_conf=extra,
        )
    run.spark.sparkContext.setLogLevel("ERROR")
    heap = run.spark.conf.get("spark.driver.memory")
    if heap != cfg["driver_mem"]:
        raise SystemExit(
            f"driver heap resolved to {heap}, not the pinned {cfg['driver_mem']}"
        )
    run.record["driver_memory"] = heap


def _conf(spark) -> dict:
    return dict(spark.conf.getAll)


def _drop_row_state(spark) -> None:
    # free persisted intermediates and memory-sink tables between rows,
    # as the engine's own bench loop does, so one row cannot tax the next
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary and "_out_" in t.name:
            spark.catalog.dropTempView(t.name)


def closed_loop(run: Run, rows: tuple[str, ...], data_dir: str) -> dict:
    """Run ``rows`` once each, one at a time, in order. Returns per-row
    seconds."""
    spark, cfg = run.spark, run.cfg
    specs = catalog_specs()
    want = oracle.oracle_digests(
        data_dir, {r: specs[r].oracle for r in rows},
        os.path.join(cfg["cache_dir"], f"oracle-{cfg['seed']}-{cfg['scale']}.json"),
    )
    secs: dict[str, float] = {}
    drift: dict[str, list[str]] = {}
    for r in rows:
        run.attempted += 1
        out = run.path("results", r)
        if cfg["trace"]:
            spark.sparkContext.setJobGroup(f"{cfg['workload']}/{r}", r)
        before = _conf(spark)
        try:
            with run.spans.span(f"catalog.{r}"):
                t0 = time.perf_counter()
                specs[r].spark(spark, data_dir).write.mode("overwrite").parquet(out)
                secs[r] = time.perf_counter() - t0
        except Exception as exc:  # a failing row is recorded, not fatal
            run.fail(r, f"{type(exc).__name__}: {exc}"[:500])
            continue
        after = _conf(spark)
        if after != before:
            drift[r] = sorted(k for k in after.keys() | before.keys()
                              if after.get(k) != before.get(k))
        _drop_row_state(spark)
        why = oracle.mismatch(oracle.parquet_digest(out), want[r])
        if why:
            run.fail(r, why)
        shutil.rmtree(out, ignore_errors=True)
    run.record["conf_drift"] = drift
    run.record["row_seconds"] = secs
    return secs


def batch_pipeline(run: Run) -> None:
    from kafka_streams_learning_spark.sources.batch import load_table

    spark, data = run.spark, run.cfg["data_dir"]
    # warm the JVM scan and codegen path once, as the engine's bench does,
    # so the first timed row does not absorb session spin-up
    with run.spans.span("catalog.warm"):
        load_table(spark, data, "events").limit(1000).write.format("noop").mode(
            "overwrite").save()
    secs = closed_loop(run, BATCH_ROWS, data)
    run.record["result_s"] = sum(secs.values())


# open loop -----------------------------------------------------------------


def _pipeline(name: str, stream):
    from pyspark.sql import functions as F

    from kafka_streams_learning_spark.catalog_streaming import (
        ALERT_AFTER,
        ALERT_VALUE_THRESHOLD,
    )
    from kafka_streams_learning_spark.streaming import stateful, windows

    if name == "count":
        return "update", windows.streaming_tumbling_count(stream, "ts", "1 day", "user_id")
    alerts = stateful.fraud_alert_stream(
        stream.select(
            F.col("user_id").cast("string").alias("key"),
            F.col("event_id").alias("record_id"),
            F.col("value").alias("amount"),
            "ts",
        ),
        "key", ALERT_VALUE_THRESHOLD, ALERT_AFTER, impl="sharded",
    )
    return "append", alerts.select("key", "record_id", "amount", "running_cnt")


def _start_query(run: Run, name: str, label: str, in_dir: str, emit: dict[int, float]):
    """Start pipeline ``name`` as query ``label`` over ``in_dir``."""
    spark = run.spark
    mode, df = _pipeline(name, spark.readStream.schema(STREAM_SCHEMA).parquet(in_dir))
    out = run.path(label, "out")

    def sink(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id:06d}"))
        emit[batch_id] = time.time()

    return (
        df.writeStream.outputMode(mode)
        .queryName(label)
        .foreachBatch(sink)
        .option("checkpointLocation", run.path(label, "ckpt"))
        .start()
    )


def _progress(query) -> list[dict]:
    # progress objects carry UUIDs; their JSON form is plain data
    return [json.loads(p.json) for p in query.recentProgress]


def _feeder(run: Run, in_dir: str, stream: int, files: int, t0: float, log: str):
    cfg = {
        "dir": in_dir, "seed": run.cfg["seed"], "stream": stream,
        "files": files, "rows": ROWS_PER_FILE, "period_s": PERIOD_S,
        "t0": t0, "log": log,
    }
    return subprocess.Popen(
        [sys.executable, "-m", "perfbench.feeder", json.dumps(cfg)],
        cwd=run.cfg["root"],
    )


def _backlog_at_triggers(progress: list[dict], file_batch: dict[str, int],
                         written: dict[str, float]) -> int:
    """Largest number of landed files not yet consumed at a trigger."""
    from datetime import datetime

    worst = 0
    for p in progress:
        if "batchId" not in p:
            continue
        t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        landed = sum(1 for w in written.values() if w <= t)
        consumed = sum(1 for b in file_batch.values() if b < p["batchId"])
        worst = max(worst, landed - consumed)
    return worst


@contextmanager
def _state_shards(spark):
    """Size streaming state as the catalog's s02/s03 rows do
    (STATE_SHARDS shuffle partitions), restoring the session after."""
    from kafka_streams_learning_spark.catalog_streaming import STATE_SHARDS

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_SHARDS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def _run_pipeline(run: Run, name: str, files: int, stream: int) -> dict:
    spark = run.spark
    in_dir = run.path(name, "in")
    os.makedirs(in_dir)
    log = run.path(name, "feeder.jsonl")
    emit: dict[int, float] = {}
    with _state_shards(spark):
        with run.spans.span(f"stream.{name}"):
            query = _start_query(run, name, name, in_dir, emit)
            t0 = time.time() + START_LEAD_S
            feeder = _feeder(run, in_dir, stream, files, t0, log)
            run.feeder_pids.add(feeder.pid)
            try:
                feeder.wait(timeout=files * PERIOD_S + 60)
            finally:
                if feeder.poll() is None:
                    feeder.kill()
                    feeder.wait()
            if feeder.returncode != 0:
                raise RuntimeError(f"feeder exited with {feeder.returncode}")
            query.processAllAvailable()
            progress = _progress(query)
            query.stop()
    with open(log) as fh:
        landed = [json.loads(line) for line in fh]
    due = {e["file"]: e["due"] for e in landed}
    written = {e["file"]: e["written"] for e in landed}
    file_batch = measure.file_source_batches(run.path(name, "ckpt", "sources", "0"))
    lat = measure.file_latencies(due, file_batch, emit)
    order = sorted(due)
    samples = []
    for f in order:
        run.attempted += 1
        if lat[f] is None:
            run.fail(f"{name}/{f}", "file never emitted")
        elif due[f] - due[order[0]] >= WARMUP_S:
            samples.append(lat[f])
    return {
        "latency": measure.summarize(samples),
        "generator_lateness": measure.lateness(due, written),
        "backlog_files_max": _backlog_at_triggers(progress, file_batch, written),
        "progress": progress,
        "files": len(order),
    }


def _check_pipeline(run: Run, name: str) -> None:
    """The sink output against DuckDB over every landed event: the s02
    oracle on the last emitted count per (window, key), the s03 oracle
    on the alert rows."""
    import duckdb

    emitted = f"read_parquet('{run.path(name, 'out')}/*/*.parquet', hive_partitioning = true)"
    if name == "count":
        got_sql = f"""
            SELECT window_start, window_end, user_id, cnt FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY window_start, window_end, user_id ORDER BY batch DESC) AS k
              FROM {emitted}) WHERE k = 1"""
        want_sql = catalog_specs()["s02"].oracle
    else:
        got_sql = f"SELECT key, record_id, amount, running_cnt FROM {emitted}"
        want_sql = catalog_specs()["s03"].oracle
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{run.path(name, 'in')}/*.parquet')"
        )
        why = oracle.mismatch(oracle.duckdb_digest(con, got_sql), oracle.duckdb_digest(con, want_sql))
    finally:
        con.close()
    if why:
        run.fail(f"{name}/output", why)


def _prewarm(run: Run) -> None:
    import numpy as np
    import pyarrow.parquet as pq

    from perfbench.datagen import STREAM_T0_US, STREAM_USERS, stream_batch, zipf_weights

    warm = run.path("warm_in")
    os.makedirs(warm)
    rng = np.random.default_rng([run.cfg["seed"], len(PIPELINES)])
    pq.write_table(
        stream_batch(rng, 0, ROWS_PER_FILE, STREAM_T0_US, zipf_weights(STREAM_USERS)),
        os.path.join(warm, "part-000000.parquet"),
    )
    with _state_shards(run.spark):
        query = _start_query(run, "alert", "warm_alert", warm, {})
        query.processAllAvailable()
        query.stop()


def stream_open_loop(run: Run) -> None:
    with run.spans.span("catalog.warm"):
        _prewarm(run)
    files = round((WARMUP_S + run.cfg["seconds"] / len(PIPELINES)) / PERIOD_S)
    per = {}
    for stream, name in enumerate(PIPELINES):
        per[name] = _run_pipeline(run, name, files, stream)
        _check_pipeline(run, name)
    run.record["pipelines"] = {
        n: {k: v for k, v in p.items() if k != "progress"} for n, p in per.items()
    }
    run.record["progress"] = {n: p["progress"] for n, p in per.items()}
    medians = [per[n]["latency"]["p50"] for n in PIPELINES]
    run.record["result_s"] = sum(medians) / len(medians)


WORKLOADS = {
    "stream_open_loop": stream_open_loop,
    "batch_pipeline": batch_pipeline,
}


def _stop_jvm() -> None:
    """End the Spark JVM (it exits when its stdin closes) and wait for it
    and its Python workers, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spawned = set(process_tree(os.getpid())) - {os.getpid()}
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    left = wait_exited(spawned, timeout_s=30)
    if left:
        raise RuntimeError(f"processes still running after Spark stopped: {sorted(left)}")


def main(cfg: dict) -> None:
    os.environ["TZ"] = "UTC"
    time.tzset()
    run = Run(cfg)
    # the generator process is not part of the system under test
    with PeakRss(exclude=run.feeder_pids) as rss:
        start_session(run)
        try:
            WORKLOADS[cfg["workload"]](run)
        finally:
            run.spark.stop()
            _stop_jvm()
    span_s = run.spans.totals()
    run.record.update({
        "setup_s": sum(span_s.get(name, 0.0) for name in SETUP_SPANS),
        "span_seconds": span_s,
        "peak_rss_mb": rss.peak / 2**20,
        "attempted": run.attempted,
        "failures": run.failures,
        "spans": run.spans.items,
    })
    with open(cfg["record"], "w") as fh:
        json.dump(run.record, fh)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
