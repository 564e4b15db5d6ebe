"""Join operators (SURVEY §2.5).

Two reference joins, re-expressed for Spark's planner:

- enrich_join — the stream⋈table enrichment
  (`joins/stream_ktable/StreamTableJoinExample.java:151-155`). Kafka's
  version is arrival-order dependent; the deterministic semantic (the one
  the reference's own comments pin down, `:85-88`) is "join against the
  latest value per key". Batch: inner hash join against a (broadcast)
  dimension; a `latest_per_key` helper builds the KTable view when the
  dimension is versioned.

- interval_join — the windowed stream⋈stream join
  (`joins/stream_stream/StreamStreamJoinExample.java:118-123`): equi-key +
  |ts_l - ts_r| ≤ bound. Expressed as equi-join + range predicate so the
  planner picks a *hash* join on the key and evaluates the range as a
  post-condition — never a cartesian range join. At scale both sides
  shuffle once on the key; AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def latest_per_key(df: DataFrame, key: str, version_col: str) -> DataFrame:
    """KTable materialization (SURVEY §2.1 S3): latest value per key by
    version/timestamp, ties broken arbitrarily-but-deterministically via
    max_by struct ordering. One shuffle on the key; at scale this is the
    compacted-topic snapshot."""
    others = [c for c in df.columns if c != key]
    packed = F.max_by(F.struct(*others), F.col(version_col))
    return df.groupBy(key).agg(packed.alias("_v")).select(key, "_v.*")


def enrich_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "inner",
    broadcast_dim: bool = True,
    dim_bucketed: bool = False,
) -> DataFrame:
    """Stream-table enrichment join. Inner by default (no match → drop,
    `StreamTableJoinExample.java:149`). The dimension is broadcast when
    small — at 100 TB of facts a broadcast dim means zero shuffle of the
    fact table, which is the entire game.

    When the dimension outgrows the broadcast budget (a billion-row
    customer table is not a broadcast candidate), pass
    `dim_bucketed=True` with BOTH sides read from co-bucketed layouts
    (`operators/bucketing.py` — same key, same bucket count): the join is
    hinted to sort-merge, which reuses the layouts' hash distribution, so
    the plan carries ZERO Exchange on the fact side (pinned by
    tests/test_bucketing.py). That is the batch equivalent of the
    reference keying both sides through the same repartition topic —
    pay the shuffle once at write time, never per query."""
    if dim_bucketed:
        return facts.join(dim.hint("merge"), on=on, how=how)
    d = broadcast(dim) if broadcast_dim else dim
    return facts.join(d, on=on, how=how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: dict[str, str],
    right_id: str,
    strict: bool = True,
) -> DataFrame:
    """Point-in-time (as-of) join: each left row picks up the LATEST right
    row of the same key with right_ts < left_ts (strict; <= when
    strict=False), ties on right_ts broken by the highest right_id. Left
    rows with no prior right row keep nulls — the point-in-time-correct
    feature lookup of a feature store (no leakage from the future).

    Not a band join: the naive formulation (equi-key join + ts <=
    predicate + argmax) generates O(|left| x matches-per-key) candidate
    rows. Instead both sides are UNIONed and sorted once per key by
    (ts, side, right_id); a running `last(payload, ignorenulls)` carries
    the newest right payload forward and left rows read it directly.
    One exchange on the key, zero row explosion, and the window state is
    O(1) per row — this survives a 100 TB left side with a hot key.
    The sort places left rows BEFORE right rows at equal timestamps when
    strict (so an equal-ts right row is invisible to them), AFTER when
    not.

    `payload` maps right-column -> output-column; output columns must not
    collide with left's. All carried `last()` calls share one window
    ordering, so every payload column comes from the same winning row."""
    l_tag, r_tag = (0, 1) if strict else (1, 0)
    r_types = dict(zip(right.schema.names, right.schema))
    l_sel = (
        [F.col(c) for c in left.columns]
        + [F.lit(None).cast(r_types[rc].dataType).alias(out) for rc, out in payload.items()]
        + [
            F.col(left_ts).alias("_ts"),
            F.lit(l_tag).alias("_tag"),
            F.lit(None).cast(r_types[right_id].dataType).alias("_rid"),
        ]
    )
    l_types = dict(zip(left.schema.names, left.schema))
    r_sel = (
        # the key column must survive on BOTH sides (it's the window
        # partition); every other left column is null-padded
        [
            F.col(key) if c == key else F.lit(None).cast(l_types[c].dataType).alias(c)
            for c in left.columns
        ]
        + [F.col(rc).alias(out) for rc, out in payload.items()]
        + [
            F.col(right_ts).alias("_ts"),
            F.lit(r_tag).alias("_tag"),
            F.col(right_id).alias("_rid"),
        ]
    )
    merged = left.select(*l_sel).unionByName(right.select(*r_sel))
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_ts"), F.col("_tag"), F.col("_rid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        "*", *[F.last(out, ignorenulls=True).over(w).alias(f"_c_{out}") for out in payload.values()]
    )
    return carried.filter(F.col("_tag") == l_tag).select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"_c_{out}").alias(out) for out in payload.values()],
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    how: str = "inner",
) -> DataFrame:
    """Windowed equi-join: keys equal AND
    right_ts ∈ [left_ts - lower, left_ts + upper]
    (`StreamStreamJoinExample.java:118-123` uses ±5 min symmetric; lower and
    upper are exposed separately because order⋈payment style joins are often
    one-sided). Equi-condition first so the planner hashes on the key."""
    cond = (
        (F.col(f"l.{left_key}") == F.col(f"r.{right_key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lower}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    return left.alias("l").join(right.alias("r"), cond, how)


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    salt: int = 16,
    how: str = "inner",
    salt_by: Column | None = None,
) -> DataFrame:
    """Skew-mitigated equi-join: scatter the fact side across `salt`
    sub-keys and replicate the dimension once per sub-key, so a hot join
    key's rows land on `salt` reducers instead of one. Output is
    EXACTLY the plain join's — every fact row still meets every dim row
    of its key exactly once (in the single replica carrying its salt).

    This is the classic remedy for low-cardinality / power-law keys
    where hash partitioning serializes the hot key on one task. Spark's
    AQE skew-join (`spark.sql.adaptive.skewJoin.enabled`) splits skewed
    SHUFFLE-join partitions at runtime and is the first tool to reach
    for; the explicit salt is for the plans AQE won't touch — broadcast
    re-used dims, joins feeding a co-partitioned downstream stage, or
    engines/configs without AQE — and for making the fan-out factor an
    auditable query parameter instead of a runtime heuristic.

    `how` must be "inner", "left", or "semi": for these, per-fact-row
    semantics are salt-invariant (an unmatched left row null-extends in
    its own replica). Right/full outer would emit one row per REPLICA
    of an unmatched dim row — refused.

    `salt_by` picks the scatter column (default: portable hash of the
    whole fact row — NOT the join key, which would re-serialize the hot
    key). A NULL `salt_by` value scatters to sub-key 0 rather than
    silently failing the equi-match (which would drop/null-extend rows
    whose key DOES match — the contract violation, not a tolerable
    degradation). Cost: dim is replicated `salt`× (keep `salt` × |dim|
    well under the fact side; the dim exchange grows `salt`×), and the
    fact exchange row grows by one int.
    """
    if how not in ("inner", "left", "semi", "left_semi", "leftsemi"):
        raise ValueError(
            f"salted_join supports inner/left/semi, not {how!r}: outer-"
            "replicating the dim side would duplicate unmatched dim rows"
        )
    if "_salt" in facts.columns or "_salt" in dim.columns:
        raise ValueError(
            "salted_join reserves the column name '_salt'; rename the "
            "input column (it would be silently clobbered then dropped)"
        )
    keys = [on] if isinstance(on, str) else list(on)
    sid = (
        salt_by
        if salt_by is not None
        else F.xxhash64(F.struct(*[F.col(c) for c in facts.columns]))
    )
    scatter = F.coalesce(F.pmod(sid, F.lit(salt)), F.lit(0)).cast("int")
    f = facts.withColumn("_salt", scatter)
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return f.join(d, keys + ["_salt"], how).drop("_salt")
