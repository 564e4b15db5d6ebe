"""Batch-equivalence golden tests (SURVEY §5.2-1): every catalog query runs
through the engine and through DuckDB; rows, schema, and order-insensitive
value hashes must match. This is a local replica of the driver's gate."""

from __future__ import annotations

import re

import duckdb
import pytest

from kafka_streams_learning_spark.catalog import all_queries
from kafka_streams_learning_spark.sources.batch import TABLES
from kafka_streams_learning_spark.streaming.runner import STATE_SHARDS
from tools.oracle_check import table_hash

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("spec", all_queries(), ids=lambda s: s.name)
def test_query_matches_oracle(spark, duck, spec, started_confs):
    sdf = spec.spark(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    if re.match(r"s\d\d_", spec.name):
        # every streaming row starts with the runner's derived shard
        # count, which is the floor at the gate scales
        assert started_confs, spec.name
        assert {p for p, _ in started_confs} == {str(STATE_SHARDS)}
    if spec.oracle is None:
        assert len(srows) >= 0  # rows-only contract: runs and has stable schema
        assert sdf.columns
        return
    res = duck.execute(spec.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), f"row count {len(srows)} != oracle {len(drows)}"
    assert sorted(sdf.columns) == sorted(dcols)
    assert table_hash(sdf.columns, srows) == table_hash(dcols, drows)


def test_lsh_star_closure_matches_oracle_when_cap_binds(spark, tmp_path):
    """Fixtures never exceed the bucket cap, so the driver gate alone
    never exercises the r10 star-pair arm cross-engine. This test does:
    a 300-member identical-text family (every bucket binds at cap=256)
    plus singletons, run through BOTH lsh_candidate_pairs and the
    catalog's _lsh_sql mirror — pair sets must be identical."""
    import duckdb as _duckdb

    from kafka_streams_learning_spark.catalog_ext import _lsh_sql, MINHASH_PERMS
    from kafka_streams_learning_spark.operators import dedup

    rows = [(i, "the same boilerplate family text") for i in range(300)]
    rows += [(1000 + i, f"unique filler document {i} alpha beta") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "docs.parquet")
    df.write.mode("overwrite").parquet(pq)

    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(
            df, MINHASH_PERMS, MINHASH_PERMS
        ).collect()
    }
    con = _duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
        )
        want = set(map(tuple, con.execute(_lsh_sql()).fetchall()))
    finally:
        con.close()
    assert got == want
    # the star arm actually fired: the family exceeds the cap, so pair
    # count must exceed what capped self-joins alone could produce is
    # not directly assertable, but full coverage is — every family
    # member appears (the closure the arm exists to guarantee)
    covered = {a for a, _ in got} | {b for _, b in got}
    assert set(range(300)) <= covered


def test_embedding_lsh_star_closure_matches_oracle_when_cap_binds(spark, tmp_path):
    """x26's cross-engine mirror under a BINDING cap + zero-norm riders:
    300 co-directional 64-dim vectors land in one bucket of every band
    (cap=256 binds), and zero-norm vectors must neither occupy cap slots
    nor anchor stars on either engine. Spark pair set == oracle pair set
    (scores compared to 1e-9 — both engines run the identical
    normalize-once + sequential-dot arithmetic)."""
    import duckdb as _duckdb

    from kafka_streams_learning_spark.catalog_ext import (
        EMB_DIM, EMB_DUP_THRESHOLD, NEARDUP_BANDS, NEARDUP_BUCKET_CAP,
        NEARDUP_PPB, _x26_sql,
    )
    from kafka_streams_learning_spark.operators import similarity

    base = [float((i * 29) % 11 - 5) or 1.0 for i in range(EMB_DIM)]
    rows = [(i, [x * (1.0 + 0.01 * i) for x in base]) for i in range(300)]
    rows += [(900 + i, [0.0] * EMB_DIM) for i in range(4)]  # zero-norm
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pq = str(tmp_path / "emb.parquet")
    df.write.mode("overwrite").parquet(pq)

    got = {
        (r.vec_a, r.vec_b): r.score
        for r in similarity.embedding_near_dup_pairs_lsh(
            df, EMB_DUP_THRESHOLD, bands=NEARDUP_BANDS,
            planes_per_band=NEARDUP_PPB, dim=EMB_DIM,
            bucket_cap=NEARDUP_BUCKET_CAP,
        ).collect()
    }
    con = _duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}/*.parquet')"
        )
        want = {(a, b): s for a, b, s in con.execute(_x26_sql()).fetchall()}
    finally:
        con.close()
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9, k
    covered = {a for a, _ in got} | {b for _, b in got}
    assert set(range(300)) <= covered   # closure
    assert not covered & {900, 901, 902, 903}  # zero-norm never pairs
