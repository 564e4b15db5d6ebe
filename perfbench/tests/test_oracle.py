import importlib
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracle


def test_import_leaves_sys_path_unchanged():
    before = list(sys.path)
    importlib.reload(oracle)
    assert sys.path == before


def test_parquet_digest_matches_duckdb_digest_of_same_rows(tmp_path):
    import datetime as dt

    import duckdb

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({
        "k": pa.array([2, 1], pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 1, 0, 0, 1), dt.datetime(2024, 1, 2)],
                       pa.timestamp("ns")),
        "v": pa.array([0.5, None], pa.float64()),
    }), path)
    con = duckdb.connect()
    want = oracle.duckdb_digest(con, "SELECT * FROM (VALUES "
                                "(1, TIMESTAMP '2024-01-02', NULL::DOUBLE), "
                                "(2, TIMESTAMP '2024-01-01 00:00:01', 0.5)) t(k, ts, v)")
    got = oracle.parquet_digest(str(path))
    assert oracle.mismatch(got, want) is None
    assert "rows" in oracle.mismatch(dict(got, rows=3), want)
