"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench/`` (the engine receives only the generated files), the
workload runs in a fresh child process on ``local[<nproc>]`` with a
pinned driver heap, and every output is checked against its DuckDB
oracle. The last stdout line is one JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
the child runs with Spark's event log on and the metrics are the
per-layer ones folded from that log; ``trace.overhead_ratio`` compares
its ``result_s`` with the untraced record of the same seed, seconds, CPU
count and engine code (an untraced child runs first when there is none).
A host-fingerprinted record of every run goes to ``.perfbench/records/``.

End-to-end metrics (every workload):

- ``setup_s``: session start plus the workload's warm calls. Input
  generation is excluded.
- ``result_s``: the workload's time to result. ``stream_open_loop``: the
  mean over its two pipelines of the median per-file latency (due time to
  emitted result). ``batch_pipeline``: the sum of per-row seconds over
  the fixed row list.

``--seconds`` sets how many files the open loop lands per pipeline.
``batch_pipeline`` runs its row list once whatever ``--seconds`` says,
so its samples never depend on how fast the engine is.

The printed table adds, each with unit and sample count: peak resident
memory of the Spark process tree (driver Python, JVM, Python workers,
from ``/proc``), per-pipeline latency median and tail (the highest
percentile with at least ten samples beyond it: p75 at 40 samples),
generator lateness, per-row seconds and the failed ratio.

Failures (exceptions, oracle mismatches, files never emitted) are
``failed`` out of ``attempted`` operations: rows, or landed files in the
open loop.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("stream_open_loop", "batch_pipeline")
# Generated table sizes relative to sf1: the engine's gate scale, where
# per-row fixed costs dominate as they do at sf0.1, small enough that one
# run fits the benchmark's time budget.
SCALE = 0.01
DRIVER_MEM = "3g"
RUN_TIMEOUT_S = 170
BENCH_DIR = os.path.join(ROOT, ".perfbench")

# the end-to-end metrics a run reports, with their units; BENCHMARK.json
# lists the same names (perfbench/tests/test_benchmark_json.py keeps them equal)
E2E_UNITS = {"setup_s": "s", "result_s": "s"}
LAYER_UNITS = {
    "session.get_spark_s": "s", "session.conf_drift_rows": "count",
    "catalog.warm_s": "s",
    "sources.backlog_files_max": "count",
    "trace.overhead_ratio": "1",
}


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("bytes") or "bytes_" in name:
        return "B"
    if name.endswith("ratio") or name.endswith("skew_max"):
        return "1"
    return "count"


# The per-layer metrics a traced run reports. The micro-batch, file
# source and state-store ones read 0 on batch_pipeline, which runs no
# stream; on stream_open_loop the phase medians are the ones that explain
# the latency. The rest of the fold stays in the record and the printed
# table, per workload and per row.
PER_LAYER = {m: layer_unit(m) for m in (
    "session.get_spark_s", "catalog.warm_s", "trace.overhead_ratio",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.tasks", "exec.task_skew_max",
    "shuffle.write_bytes", "shuffle.write_ms", "shuffle.read_bytes",
    "scan.time_ms", "scan.bytes", "scan.rows", "sort.time_ms", "agg.peak_memory_bytes",
    "python.bytes_from_worker", "python.rows_out", "python.time_ms",
    "microbatch.count", "microbatch.nonempty_ratio",
    "microbatch.trigger_ms_p50", "microbatch.add_batch_ms_p50",
    "microbatch.query_planning_ms_p50", "microbatch.wal_commit_ms_p50",
    "microbatch.commit_offsets_ms_p50",
    "sources.file.latest_offset_ms_p50", "sources.file.get_batch_ms_p50",
    "sources.backlog_files_max",
    "state.shards", "state.memory_bytes_max", "state.rows_updated",
)}


def _env(cpus: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Spark's Python workers import the engine by module path; they do
    # not inherit the Spark driver's sys.path, only its environment
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep staging, checkpoints and Spark scratch inside the checkout
    tmp = os.path.join(BENCH_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    return env


def run_child(cfg: dict, deadline: float) -> dict:
    """Run one workload in a fresh process; return its record."""
    os.makedirs(cfg["work_dir"], exist_ok=True)
    log_path = cfg["record"] + ".log"
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.workloads", json.dumps(cfg)],
                cwd=cfg["work_dir"], env=_env(cfg["cpus"]),
                stdout=log, stderr=subprocess.STDOUT,
            )
            try:
                proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"{cfg['workload']} child timed out; log: {log_path}")
        if proc.returncode != 0:
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            raise SystemExit(f"{cfg['workload']} child failed ({proc.returncode}):\n{tail}")
        with open(cfg["record"]) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(cfg["work_dir"], ignore_errors=True)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def child_config(workload: str, seed: int, seconds: int, trace: bool,
                 cpus: int, data_dir: str | None, tag: str) -> dict:
    name = f"{workload}-seed{seed}-{tag}"
    work = os.path.join(BENCH_DIR, "work", f"{name}-{os.getpid()}")
    return {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "cpus": cpus, "scale": SCALE,
        "driver_mem": DRIVER_MEM, "root": ROOT, "data_dir": data_dir,
        "cache_dir": os.path.join(BENCH_DIR, "cache"),
        "work_dir": work,
        "event_log_dir": work + "-eventlog",
        "record": os.path.join(BENCH_DIR, "records", f"{name}.json"),
    }


def _row_of(workload: str):
    def row_of(group: str) -> str | None:
        if group.startswith(workload + "/"):
            return group.split("/", 1)[1]
        if group in ("count", "alert"):
            return group
        if "_out_" in group:
            return group.split("_")[0]
        return None

    return row_of


def layer_metrics(rec: dict, base: dict, log_dir: str) -> tuple[dict, dict]:
    """Per-layer metrics of a traced record: (workload totals, per row)."""
    from perfbench import eventlog

    workload = rec["workload"]
    per_row = eventlog.fold_events(eventlog.read_events(log_dir), _row_of(workload))
    whole = eventlog.fold_events(
        eventlog.read_events(log_dir),
        lambda g: workload if _row_of(workload)(g) is not None else None,
    ).get(workload, {})
    totals = {m: whole.get(m, 0.0) for m in eventlog.ROW_METRICS}
    span_s = rec["span_seconds"]
    totals.update({
        "session.get_spark_s": span_s["session.get_spark"],
        "session.conf_drift_rows": float(len(rec.get("conf_drift", {}))),
        "catalog.warm_s": span_s.get("catalog.warm", 0.0),
        "sources.backlog_files_max": float(max(
            (p["backlog_files_max"] for p in rec.get("pipelines", {}).values()),
            default=0,
        )),
        "trace.overhead_ratio": rec["result_s"] / base["result_s"],
    })
    for row, secs in rec.get("row_seconds", {}).items():
        per_row.setdefault(row, {})[f"catalog.{row}_s"] = secs
    return totals, per_row


def report_rows(rec: dict, metrics: dict, units: dict) -> list[tuple]:
    """(name, value, unit, sample count) for every metric of a record:
    the reported ones first, then the workload's own figures."""
    n_result = (
        sum(p["latency"]["n"] for p in rec["pipelines"].values())
        if "pipelines" in rec else len(rec.get("row_seconds", {}))
    )
    rows = [(m, v, units[m], n_result if m == "result_s" else 1) for m, v in metrics.items()]
    rows.append(("peak_rss_mb", rec["peak_rss_mb"], "MB", 1))
    for pipe, p in rec.get("pipelines", {}).items():
        lat, late = p["latency"], p["generator_lateness"]
        rows.append((f"{pipe}_latency_p50_s", lat["p50"], "s", lat["n"]))
        if lat.get("tail_pct", 50.0) > 50.0:
            rows.append((f"{pipe}_latency_p{lat['tail_pct']:g}_s", lat["tail"], "s", lat["n"]))
        rows.append((f"{pipe}_generator_late_p95_s", late["p95"], "s", late["n"]))
        rows.append((f"{pipe}_generator_late_max_s", late["max"], "s", late["n"]))
        rows.append((f"{pipe}_backlog_files_max", p["backlog_files_max"], "count", p["files"]))
    for row, secs in rec.get("row_seconds", {}).items():
        rows.append((f"catalog.{row}_s", secs, "s", 1))
    for name, value in sorted(rec.get("layers", {}).items()):
        if name not in metrics:
            rows.append((name, value, layer_unit(name), 1))
    rows.append(("failed_ratio", len(rec["failures"]) / rec["attempted"], "1", rec["attempted"]))
    return rows


def is_base_for(rec: dict, seconds: int, cpus: int, host: dict) -> bool:
    """Whether untraced record ``rec`` measured what a traced run with
    ``seconds``, ``cpus`` and ``host`` measures: same run length, CPU
    count and engine code."""
    old = rec.get("host", {})
    return (
        "metrics" in rec
        and rec.get("seconds") == seconds
        and rec.get("cpus") == cpus
        and old.get("nproc") == host["nproc"]
        and old.get("code_fingerprint") == host["code_fingerprint"]
    )


def _untraced_record(workload: str, seed: int, seconds: int, cpus: int,
                     host: dict) -> dict | None:
    """This seed's untraced record, if it is a valid base (is_base_for)."""
    path = os.path.join(BENCH_DIR, "records", f"{workload}-seed{seed}-e2e.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        rec = json.load(fh)
    return rec if is_base_for(rec, seconds, cpus, host) else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.time() + RUN_TIMEOUT_S

    # fails fast, before any output, where the engine is not present
    import kafka_streams_learning_spark  # noqa: F401

    from perfbench import datagen
    from perfbench.host import fingerprint

    for sub in ("records", "cache", "work"):
        os.makedirs(os.path.join(BENCH_DIR, sub), exist_ok=True)
    data_dir = None
    if args.workload == "batch_pipeline":
        data_dir = datagen.write_tables(
            os.path.join(BENCH_DIR, "data", f"seed{args.seed}-{SCALE}"), args.seed, SCALE
        )
    cpus = _cpus()
    host = fingerprint(ROOT, _env(cpus))

    def untraced() -> dict:
        cfg = child_config(args.workload, args.seed, args.seconds, False, cpus, data_dir, "e2e")
        return run_child(cfg, deadline)

    if not args.trace:
        rec = untraced()
        metrics = {m: rec[m] for m in E2E_UNITS}
        units = E2E_UNITS
    else:
        base = _untraced_record(args.workload, args.seed, args.seconds, cpus, host)
        if base is None:
            base = untraced()
            base["host"] = host
        tcfg = child_config(args.workload, args.seed, args.seconds, True, cpus, data_dir, "trace")
        os.makedirs(tcfg["event_log_dir"], exist_ok=True)
        try:
            rec = run_child(tcfg, deadline)
            rec["layers"], rec["layers_per_row"] = layer_metrics(
                rec, base, tcfg["event_log_dir"])
        finally:
            shutil.rmtree(tcfg["event_log_dir"], ignore_errors=True)
        metrics = {m: rec["layers"][m] for m in PER_LAYER}
        units = PER_LAYER
        rec["untraced_result_s"] = base["result_s"]
    rec["host"] = host
    rec["metrics"] = metrics
    with open(os.path.join(BENCH_DIR, "records",
                           f"{args.workload}-seed{args.seed}-{'trace' if args.trace else 'e2e'}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    for name, value, unit, n in report_rows(rec, metrics, units):
        print(f"{args.workload:18s} {name:38s} {value:16.6g} {unit:7s} n={n}")
    for op, why in rec["failures"].items():
        print(f"{args.workload:18s} FAILED {op}: {why}")
    result = {
        "correct": not rec["failures"],
        "attempted": rec["attempted"],
        "failed": len(rec["failures"]),
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
