"""Fold a Spark event log into per-layer metrics per benchmark row.

The traced run starts Spark with an uncompressed event log and calls
``setJobGroup("<workload>/<row>")`` before each row. Batch jobs carry
that group; streaming micro-batch jobs carry their query's run id, which
the log's ``QueryStartedEvent`` maps to the query name, and the
benchmark names every query after its row (catalog rows name theirs
``<row>_out_<hex>``).

Layers and where their numbers come from:

- ``exec.*``, ``tasks.*``, ``shuffle.*``, ``spill.*``: ``TaskEnd`` task
  metrics.
- ``scan.*``, ``sort.*``, ``agg.*``, ``broadcast.*``, ``python.*``: SQL
  metrics of the plan nodes, mapped from accumulator id to node through
  the plan info of ``SQLExecutionStart`` / adaptive updates, summed from
  task accumulables and driver accumulator updates.
- ``microbatch.*``, ``state.*``, ``sources.file.*``: ``QueryProgressEvent``
  (``durationMs``, ``stateOperators``).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from collections.abc import Callable, Iterable

from perfbench.measure import percentile

# (node name prefix, SQL metric name) -> (layer metric, fold)
SQL_METRICS: dict[tuple[str, str], tuple[str, str]] = {
    ("Scan", "scan time"): ("scan.time_ms", "sum"),
    ("Scan", "size of files read"): ("scan.bytes", "sum"),
    ("Scan", "number of output rows"): ("scan.rows", "sum"),
    ("Sort", "sort time"): ("sort.time_ms", "sum"),
    ("HashAggregate", "peak memory"): ("agg.peak_memory_bytes", "max"),
    ("BroadcastExchange", "time to build"): ("broadcast.build_ms", "sum"),
}
PYTHON_NODE_MARKERS = ("Pandas", "Python", "Arrow")
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
    "number of output rows": "python.rows_out",
    "time to run Python workers": "python.time_ms",
}

ROW_METRICS = (
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.tasks",
    "exec.task_skew_max", "tasks.failed_ratio",
    "shuffle.write_bytes", "shuffle.write_ms", "shuffle.read_bytes",
    "shuffle.fetch_wait_ms", "spill.disk_bytes",
    "scan.time_ms", "scan.bytes", "scan.rows", "sort.time_ms",
    "agg.peak_memory_bytes", "broadcast.build_ms",
    "python.bytes_to_worker", "python.bytes_from_worker",
    "python.rows_out", "python.time_ms",
    "microbatch.count", "microbatch.nonempty_ratio",
    "microbatch.trigger_ms_p50", "microbatch.add_batch_ms_p50",
    "microbatch.query_planning_ms_p50", "microbatch.wal_commit_ms_p50",
    "microbatch.commit_offsets_ms_p50",
    "sources.file.latest_offset_ms_p50", "sources.file.get_batch_ms_p50",
    "state.shards", "state.commit_ms", "state.memory_bytes_max",
    "state.rows_updated", "state.rows_removed", "state.update_ms",
    "state.removal_ms", "state.rows_dropped_by_watermark",
    "state.rocksdb_flush_ms", "state.rocksdb_checkpoint_ms",
)
_PHASES = {
    "microbatch.trigger_ms_p50": "triggerExecution",
    "microbatch.add_batch_ms_p50": "addBatch",
    "microbatch.query_planning_ms_p50": "queryPlanning",
    "microbatch.wal_commit_ms_p50": "walCommit",
    "microbatch.commit_offsets_ms_p50": "commitOffsets",
    "sources.file.latest_offset_ms_p50": "latestOffset",
    "sources.file.get_batch_ms_p50": "getBatch",
}


def read_events(log_dir: str) -> Iterable[dict]:
    """Events of every application log under ``log_dir``: plain files
    and rolling ``eventlog_v2_*`` directories, in file order."""
    paths = []
    for entry in sorted(os.listdir(log_dir)):
        full = os.path.join(log_dir, entry)
        if os.path.isdir(full):
            paths += sorted(
                glob.glob(os.path.join(full, "events_*")),
                key=lambda p: int(os.path.basename(p).split("_")[1]),
            )
        elif not entry.startswith(".") and not entry.endswith(".inprogress.crc"):
            paths.append(full)
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", ()):
        out[int(m["accumulatorId"])] = (name, m["name"])
    for child in node.get("children", ()):
        _walk_plan(child, out)


def _sql_target(node: str, metric: str) -> tuple[str, str] | None:
    if any(mark in node for mark in PYTHON_NODE_MARKERS) and metric in PYTHON_METRICS:
        return PYTHON_METRICS[metric], "sum"
    head = node.split(" ")[0]
    return SQL_METRICS.get((head, metric))


class _Row:
    def __init__(self) -> None:
        self.sums: dict[str, float] = defaultdict(float)
        self.maxes: dict[str, float] = defaultdict(float)
        self.tasks = 0
        self.failed = 0
        self.stage_runs: dict[int, list[float]] = defaultdict(list)
        self.progress: list[dict] = []

    def add(self, metric: str, value: float, fold: str) -> None:
        if fold == "max":
            self.maxes[metric] = max(self.maxes[metric], value)
        else:
            self.sums[metric] += value


def fold_events(events: Iterable[dict], row_of: Callable[[str], str | None]) -> dict[str, dict]:
    """Per-row layer metrics from an event stream.

    ``row_of`` maps a job group id (``<workload>/<row>``) or a streaming
    query name to its row label, or to None for work outside any row."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum: dict[int, tuple[str, str]] = {}
    run_name: dict[str, str] = {}
    rows: dict[str, _Row] = defaultdict(_Row)

    def label(group: str | None) -> str | None:
        if group is None:
            return None
        return row_of(run_name.get(group, group))

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", ()):
                stage_group[int(sid)] = group
        elif kind.endswith("SQLExecutionStart"):
            exec_group[int(ev["executionId"])] = ev.get("jobGroupId")
            _walk_plan(ev.get("sparkPlanInfo", {}), accum)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev.get("sparkPlanInfo", {}), accum)
        elif kind.endswith("QueryStartedEvent"):
            run_name[ev["runId"]] = ev.get("name") or ev["runId"]
        elif kind == "SparkListenerTaskEnd":
            row = label(stage_group.get(int(ev["Stage ID"])))
            if row is None:
                continue
            _fold_task(rows[row], ev, accum)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            row = label(exec_group.get(int(ev["executionId"])))
            if row is None:
                continue
            for acc_id, value in ev.get("accumUpdates", ()):
                target = accum.get(int(acc_id))
                hit = target and _sql_target(*target)
                if hit:
                    rows[row].add(hit[0], float(value), hit[1])
        elif kind.endswith("QueryProgressEvent"):
            prog = ev["progress"]
            row = row_of(prog.get("name") or "")
            if row is not None:
                rows[row].progress.append(prog)
    # a plan's SQLExecutionStart always precedes its tasks in the log, so
    # each task's accumulators are mapped when the task is folded
    return {name: _finish(r) for name, r in rows.items()}


def _fold_task(row: _Row, ev: dict, accum: dict[int, tuple[str, str]]) -> None:
    info = ev.get("Task Info", {})
    tm = ev.get("Task Metrics") or {}
    row.tasks += 1
    if info.get("Failed") or info.get("Killed"):
        row.failed += 1
    run_ms = float(tm.get("Executor Run Time", 0))
    row.stage_runs[int(ev["Stage ID"])].append(run_ms)
    row.sums["exec.run_ms"] += run_ms
    row.sums["exec.cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
    row.sums["exec.gc_ms"] += tm.get("JVM GC Time", 0)
    row.sums["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    row.sums["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    row.sums["shuffle.write_ms"] += sw.get("Shuffle Write Time", 0) / 1e6
    sr = tm.get("Shuffle Read Metrics") or {}
    row.sums["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    row.sums["shuffle.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    for acc in info.get("Accumulables", ()):
        if acc.get("Metadata") != "sql":
            continue
        target = accum.get(int(acc["ID"]))
        hit = target and _sql_target(*target)
        if hit:
            row.add(hit[0], float(acc.get("Update") or 0), hit[1])


def _finish(row: _Row) -> dict:
    out: dict[str, float] = {}
    for m in ROW_METRICS:
        out[m] = 0.0
    out.update(row.sums)
    out.update(row.maxes)
    out["exec.tasks"] = float(row.tasks)
    out["tasks.failed_ratio"] = row.failed / row.tasks if row.tasks else 0.0
    skews = []
    for runs in row.stage_runs.values():
        if len(runs) >= 2:
            med = percentile(runs, 50.0)
            skews.append(max(runs) / med if med > 0 else 1.0)
    out["exec.task_skew_max"] = max(skews) if skews else 1.0
    out.update(fold_progress(row.progress))
    return out


def fold_progress(progress: list[dict]) -> dict[str, float]:
    """Micro-batch phase medians and summed state-operator counters from
    a query's progress events."""
    out: dict[str, float] = {}
    batches = [p for p in progress if "batchId" in p]
    out["microbatch.count"] = float(len(batches))
    nonempty = [p for p in batches if sum(s.get("numInputRows", 0) for s in p.get("sources", ())) > 0]
    out["microbatch.nonempty_ratio"] = len(nonempty) / len(batches) if batches else 0.0
    for metric, phase in _PHASES.items():
        vals = [float(p["durationMs"][phase]) for p in batches if phase in p.get("durationMs", {})]
        out[metric] = percentile(vals, 50.0) if vals else 0.0
    state = {
        "state.commit_ms": 0.0, "state.rows_updated": 0.0, "state.rows_removed": 0.0,
        "state.update_ms": 0.0, "state.removal_ms": 0.0,
        "state.rows_dropped_by_watermark": 0.0, "state.rocksdb_flush_ms": 0.0,
        "state.rocksdb_checkpoint_ms": 0.0, "state.memory_bytes_max": 0.0,
        "state.shards": 0.0,
    }
    for p in batches:
        for op in p.get("stateOperators", ()):
            custom = op.get("customMetrics") or {}
            state["state.commit_ms"] += op.get("commitTimeMs", 0)
            state["state.rows_updated"] += op.get("numRowsUpdated", 0)
            state["state.rows_removed"] += op.get("numRowsRemoved", 0)
            state["state.update_ms"] += op.get("allUpdatesTimeMs", 0)
            state["state.removal_ms"] += op.get("allRemovalsTimeMs", 0)
            state["state.rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0)
            state["state.rocksdb_flush_ms"] += custom.get("rocksdbCommitFlushLatency", 0)
            state["state.rocksdb_checkpoint_ms"] += custom.get("rocksdbCommitCheckpointLatency", 0)
            state["state.memory_bytes_max"] = max(state["state.memory_bytes_max"], op.get("memoryUsedBytes", 0))
            state["state.shards"] = max(state["state.shards"], op.get("numStateStoreInstances", 0))
    out.update(state)
    return out
