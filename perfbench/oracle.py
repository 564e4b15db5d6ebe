"""Output checks: each row's Spark result against its DuckDB oracle.

Both sides are reduced to (sorted column names, row count, value hash)
with ``tools/oracle_check.table_hash``, the rule the engine's own
correctness gate uses. Spark results are read back from the parquet the
timed region wrote, so checking costs no second Spark execution. Oracle
results depend only on the generated inputs and are cached per seed.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

_path = list(sys.path)
from tools.oracle_check import table_hash  # noqa: E402

# the tool puts a fixed checkout path first on sys.path when imported;
# undo that, so the engine is always imported from this checkout
sys.path[:] = _path

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _table_digest(cols: list[str], rows: list[tuple]) -> dict:
    return {"cols": sorted(cols), "rows": len(rows), "hash": table_hash(cols, rows)}


def parquet_digest(path: str) -> dict:
    """Digest of a parquet file or directory Spark wrote."""
    table = pq.read_table(path)
    cols = table.column_names
    arrays = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type):
            # Spark's INT96 timestamps read back as naive UTC nanoseconds
            col = col.cast(pa.timestamp("us"))
        arrays.append(col.to_pylist())
    return _table_digest(cols, list(zip(*arrays)))


def duckdb_digest(con, sql: str) -> dict:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return _table_digest(cols, res.fetchall())


def connect(data_dir: str):
    """DuckDB connection with every generated table as a view."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def oracle_digests(data_dir: str, sqls: dict[str, str], cache_path: str) -> dict[str, dict]:
    """Oracle digest per row, computed once per generated input set."""
    cached: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cached = json.load(fh)
    missing = [name for name in sqls if name not in cached]
    if missing:
        con = connect(data_dir)
        try:
            for name in missing:
                cached[name] = duckdb_digest(con, sqls[name])
        finally:
            con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cached, fh)
        os.replace(tmp, cache_path)
    return {name: cached[name] for name in sqls}


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from the oracle digest ``want``, or None."""
    for key in ("cols", "rows", "hash"):
        if got[key] != want[key]:
            return f"{key}: {got[key]} != oracle {want[key]}"
    return None
