"""Streaming query runners/sinks (SURVEY §2.2 K1–K3, §2.11 IQ).

- run_to_memory — the test/interactive sink: drives a query to completion
  over staged replay input (`processAllAvailable`) and exposes the result
  as a queryable table. This is also how IQ1-style interactive lookups
  work: the windowed aggregate streams into a queryable sink table and
  point/range queries run against it (`OrderCountTumblingWindow.java:130-145`).
- run_collect_batches — foreachBatch capture of each micro-batch's rows:
  the observable emission sequence (KTable changelog semantics,
  `StreamsOrderCount.java:130-134`).

Both start through `_run`, the one owner of stateful-stream sizing. It
fixes the query's `spark.sql.shuffle.partitions` — the state-store
partition count, frozen at the first checkpoint — from the
`ksl.state.partitions` pin when a deployment sets one, else from
`derive_state_shards(state_bytes)`. It takes the shard-count pin and the
Arrow chunk size from the shard-keyed operator's own tag
(`stateful._shard_keyed`). Every override is scoped to the one query.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_ARROW_BATCH_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"

# Floor of the state-shard derivation. AQE does not coalesce stateful
# shuffles, so this is the live state-store count: the catalog's fixture
# state at sf<=0.1 is tens of MB, where 8 shards measured 1.7x faster than
# 32 on the interval join with identical results.
STATE_SHARDS = 8

# Shard-count derivation target (VERDICT r14 item 4): shard count is a
# state-SIZE decision — every shard is a live RocksDB instance paying an
# open+commit per micro-batch, so over-sharding small state buys pure
# fixed cost while under-sharding big state serializes its write volume.
# The documented sweet spot is ~10-100 MB of state per shard;
# TARGET_STATE_BYTES_PER_SHARD sits inside that window at the value the
# r15 big-state probe measured (sf1 interval join, ~1.2 GB real state:
# 8 shards 48-53 s, 16 → 26.6-27.9, 32 → 18.9-22.8 — still improving at
# ~70 MB/shard, so the target sits at 40 MB, deriving ~31 shards there;
# full table in OPTIMIZATION_r15.md "STATE_SHARDS derivation").
TARGET_STATE_BYTES_PER_SHARD = 40 << 20


def derive_state_shards(state_bytes: int | None) -> int:
    """Shard count for an expected state volume: ceil(bytes / target),
    floored at STATE_SHARDS (the measured flat-bottom for the catalog's
    tens-of-MB fixture state — fewer shards choke on write volume, more
    pay per-instance constants). `None`/non-positive estimates (unknown
    state) keep the floor."""
    if not state_bytes or state_bytes <= 0:
        return STATE_SHARDS
    return max(
        STATE_SHARDS, math.ceil(state_bytes / TARGET_STATE_BYTES_PER_SHARD)
    )


def _checkpoint() -> str:
    from kafka_streams_learning_spark.sources.replay import run_staging_dir

    return run_staging_dir("ckpt")


@contextmanager
def _scoped_conf(spark: SparkSession, overrides: dict[str, str | None]):
    """Set each non-None override for one query's lifetime, then restore
    the key's prior session value — or unset it when the session never
    set it — so no run leaks its sizing into the queries after it."""
    overrides = {k: v for k, v in overrides.items() if v is not None}
    prior = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _state_partitions(
    spark: SparkSession, state_bytes: int | None = None
) -> str:
    """The `spark.sql.shuffle.partitions` a stateful stream starts with:
    the `ksl.state.partitions` pin when set — the one override a
    deployment can make without editing code — else the count derived
    from the query's expected state volume."""
    pinned = spark.conf.get("ksl.state.partitions", None)
    if pinned is not None:
        return pinned
    return str(derive_state_shards(state_bytes))


def _plan_uses_keyed_state(df: DataFrame) -> bool:
    """True iff the analyzed plan contains a shard-keyed custom-state
    operator (`applyInPandasWithState` grouped on the `_shard` column).
    Keyed state grouped on a user key has no shard-count restart
    invariant, so it is deliberately NOT matched — the warning would be
    noise there."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # plan introspection is best-effort diagnostics
        return False
    return "WithState" in plan and "_shard" in plan


def _run(
    df: DataFrame,
    sink,
    checkpoint: str | None,
    state_bytes: int | None,
) -> None:
    """The one start path: pin the shard count from the operator's tag,
    scope the state sizing and the tagged Arrow chunk size to this query,
    start `sink(df.writeStream)` and drive it to completion.

    A plan that uses shard-keyed state but carries no tag (any
    transformation after the operator drops it) gets a logged warning —
    the restart protection of `pin_shard_count` is then on the caller
    (ADVICE r12)."""
    spark = df.sparkSession
    ckpt = checkpoint or _checkpoint()
    shard_count = getattr(df, "_ksl_shard_count", None)
    if shard_count is not None:
        from kafka_streams_learning_spark.streaming.stateful import (
            pin_shard_count,
        )

        pin_shard_count(ckpt, shard_count)
    elif _plan_uses_keyed_state(df):
        import logging

        logging.getLogger(__name__).warning(
            "streaming plan uses shard-keyed state but carries no shard "
            "count tag; a restart of checkpoint %s with a different "
            "n_shards will silently orphan state — run the operator's "
            "output directly or call stateful.pin_shard_count",
            ckpt,
        )
    arrow_rows = getattr(df, "_ksl_arrow_batch_rows", None)
    overrides = {
        _SHUFFLE_PARTITIONS: _state_partitions(spark, state_bytes),
        _ARROW_BATCH_ROWS: None if arrow_rows is None else str(arrow_rows),
    }
    with _scoped_conf(spark, overrides):
        q = sink(df.writeStream).option("checkpointLocation", ckpt).start()
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "update",
    checkpoint: str | None = None,
    state_bytes: int | None = None,
) -> None:
    """Run a streaming DataFrame to completion into an in-memory table
    named `name`; query it afterwards with spark.sql/spark.table.
    `state_bytes` is the caller's estimate of the query's state volume
    (None: unknown), from which `_run` derives the state partitions."""
    _run(
        df,
        lambda w: w.outputMode(output_mode).format("memory").queryName(name),
        checkpoint,
        state_bytes,
    )


def run_collect_batches(
    df: DataFrame,
    output_mode: str = "update",
    checkpoint: str | None = None,
) -> list[list]:
    """Run to completion, capturing each micro-batch's emitted rows in
    order — the update-mode emission sequence as observable behavior."""
    batches: list[list] = []

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        batches.append(batch_df.collect())

    _run(
        df,
        lambda w: w.outputMode(output_mode).foreachBatch(_sink),
        checkpoint,
        None,
    )
    return batches
