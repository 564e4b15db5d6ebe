import json

import pytest

from perfbench import eventlog


def _plan(name, metrics, children=()):
    return {"nodeName": name, "metrics": [
        {"name": m, "accumulatorId": acc, "metricType": "sum"} for m, acc in metrics
    ], "children": list(children)}


def _task(stage, run_ms, accums=(), failed=False, shuffle_write=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Failed": failed, "Killed": False, "Accumulables": [
            {"ID": acc, "Name": "x", "Update": str(v), "Metadata": "sql"} for acc, v in accums
        ] + [{"ID": 999, "Name": "internal.metrics.executorRunTime", "Update": run_ms}]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write,
                                      "Shuffle Write Time": 2_000_000},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7,
                                     "Fetch Wait Time": 3},
        },
    }


def _events():
    scan = _plan("Scan parquet ", [("scan time", 10), ("size of files read", 11),
                                   ("number of output rows", 12)])
    py = _plan("MapInPandas", [("data sent to Python workers", 20),
                               ("number of output rows", 21),
                               ("time to run Python workers", 22)], [scan])
    bcast = _plan("BroadcastExchange", [("time to build", 30)])
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "wl/r1"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "jobGroupId": "wl/r1",
         "sparkPlanInfo": _plan("WriteFiles", [], [py, bcast])},
        _task(1, 100, [(10, 40), (11, 1000), (12, 5), (20, 64), (21, 5), (22, 9)],
              shuffle_write=50),
        _task(1, 300, [(10, 60), (12, 7)], failed=True),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[30, 17]]},
        # a streaming query: its jobs carry the run id as job group
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent",
         "id": "q", "runId": "run-1", "name": "r2_out_ab12"},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "run-1"}},
        _task(2, 50),
        # work outside any benchmark row is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
        _task(3, 1000),
    ] + [
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {
             "name": "r2_out_ab12", "batchId": b,
             "durationMs": {"triggerExecution": t, "addBatch": t - 10, "walCommit": 4,
                            "commitOffsets": 3, "queryPlanning": 2,
                            "latestOffset": 1, "getBatch": 1},
             "sources": [{"numInputRows": rows}],
             "stateOperators": [{"commitTimeMs": 5, "numRowsUpdated": rows,
                                 "numRowsRemoved": 1, "allUpdatesTimeMs": 6,
                                 "allRemovalsTimeMs": 2, "memoryUsedBytes": 100 * (b + 1),
                                 "numRowsDroppedByWatermark": 0,
                                 "numStateStoreInstances": 8,
                                 "customMetrics": {"rocksdbCommitFlushLatency": 3,
                                                   "rocksdbCommitCheckpointLatency": 4}}],
         }}
        for b, t, rows in ((0, 110, 10), (1, 130, 0), (2, 120, 5))
    ]


def _row_of(group):
    if group.startswith("wl/"):
        return group.split("/", 1)[1]
    if "_out_" in group:
        return group.split("_")[0]
    return None


def test_fold_attributes_tasks_sql_metrics_and_progress_to_rows():
    rows = eventlog.fold_events(_events(), _row_of)
    assert set(rows) == {"r1", "r2"}
    r1 = rows["r1"]
    assert r1["exec.tasks"] == 2 and r1["tasks.failed_ratio"] == 0.5
    assert r1["exec.run_ms"] == 400 and r1["exec.cpu_ms"] == pytest.approx(200)
    assert r1["exec.task_skew_max"] == pytest.approx(300 / 200)
    assert r1["shuffle.write_bytes"] == 50 and r1["shuffle.read_bytes"] == 14
    assert (r1["scan.time_ms"], r1["scan.bytes"], r1["scan.rows"]) == (100, 1000, 12)
    assert (r1["python.bytes_to_worker"], r1["python.rows_out"], r1["python.time_ms"]) == (64, 5, 9)
    assert r1["broadcast.build_ms"] == 17
    assert r1["microbatch.count"] == 0
    r2 = rows["r2"]
    assert r2["exec.run_ms"] == 50
    assert r2["microbatch.count"] == 3
    assert r2["microbatch.nonempty_ratio"] == pytest.approx(2 / 3)
    assert r2["microbatch.trigger_ms_p50"] == 120
    assert r2["microbatch.wal_commit_ms_p50"] == 4
    assert r2["state.commit_ms"] == 15 and r2["state.rows_updated"] == 15
    assert r2["state.memory_bytes_max"] == 300 and r2["state.shards"] == 8
    assert r2["state.rocksdb_flush_ms"] == 9 and r2["state.rocksdb_checkpoint_ms"] == 12
    assert set(eventlog.ROW_METRICS) <= set(r2)


def test_read_events_follows_rolling_log_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for idx, ev in ((2, {"Event": "b"}), (1, {"Event": "a"}), (10, {"Event": "c"})):
        (d / f"events_{idx}_local-1").write_text(json.dumps(ev) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert [e["Event"] for e in eventlog.read_events(str(tmp_path))] == ["a", "b", "c"]
