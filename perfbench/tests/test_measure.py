import json
import statistics

import pytest

from perfbench import measure


def _log(path, name, entries):
    with open(path / name, "w") as fh:
        fh.write("v1\n")
        for f, batch in entries:
            fh.write(json.dumps({"path": f"file:/in/{f}", "timestamp": 1, "batchId": batch,
                                 "action": "add"}) + "\n")


def test_file_source_batches_dedups_compacted_entries(tmp_path):
    # batch 9 compacts batches 0-9: earlier entries repeat under 9.compact
    _log(tmp_path, "8", [("a8.parquet", 8)])
    _log(tmp_path, "9.compact", [(f"a{i}.parquet", i) for i in range(10)])
    _log(tmp_path, "10", [("a10.parquet", 10), ("a11.parquet", 10)])
    (tmp_path / ".10.crc").write_text("x")
    got = measure.file_source_batches(str(tmp_path))
    assert got == {**{f"a{i}.parquet": i for i in range(10)},
                   "a10.parquet": 10, "a11.parquet": 10}


def test_file_latencies_join_batches_to_due_times(tmp_path):
    _log(tmp_path, "0", [("f0", 0), ("f1", 0)])
    _log(tmp_path, "1.compact", [("f0", 0), ("f1", 0), ("f2", 1)])
    batches = measure.file_source_batches(str(tmp_path))
    due = {"f0": 10.0, "f1": 10.25, "f2": 10.5, "f3": 10.75}
    emit = {0: 11.0, 1: 12.0}
    lat = measure.file_latencies(due, batches, emit)
    assert lat == {"f0": 1.0, "f1": 0.75, "f2": 1.5, "f3": None}


@pytest.mark.parametrize("n,pct", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
    (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    assert measure.tail_pct(n) == pct


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    assert measure.percentile(xs, 50.0) == statistics.median(xs)
    qs = statistics.quantiles(xs, n=4, method="inclusive")
    assert measure.percentile(xs, 25.0) == pytest.approx(qs[0])
    assert measure.percentile(xs, 75.0) == pytest.approx(qs[2])


def test_summarize_reports_tail_only_when_admissible():
    assert "tail" not in measure.summarize([1.0] * 19)
    s = measure.summarize([float(i) for i in range(40)])
    assert (s["n"], s["tail_pct"]) == (40, 75.0)
    assert s["tail"] == pytest.approx(29.25)


def test_lateness_counts_only_late_writes():
    due = {"a": 1.0, "b": 2.0, "c": 3.0}
    written = {"a": 0.9, "b": 2.5, "c": 3.1}
    out = measure.lateness(due, written)
    assert out["n"] == 3 and out["max"] == pytest.approx(0.5)
