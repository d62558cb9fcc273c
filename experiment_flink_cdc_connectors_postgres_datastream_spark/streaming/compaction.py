"""Streaming changelog materialization: the continuous analog of
``cdc.changelog`` (SURVEY.md §2.3 A1/A3).

``run_compacted_aggregate`` — ``foreachBatch``, exactly-once with a
checkpoint location: merge each micro-batch into a compacted state
table (bucketed generational parquet, :mod:`.statestore`), recompute
the grouped aggregate, and hand the refreshed aggregate to a sink
callback (our JDBC-upsert path, K3). A micro-batch rewrites only the
key-hash buckets it touches and publishes via an atomic manifest flip
— per-batch write I/O is O(touched keys' buckets), not O(total
state), and a crash mid-write leaves the previous state generation
intact. State is partitioned by the upsert key — the same hash the
reference's ``keyBy`` (StreamingJobWithCustomDeserializer.java:83)
implies — and never expires unless a TTL is opted into, matching the
reference's idle-state-retention-0 config (sql-client-conf.yaml:16-17).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc.changelog import (
    DELETE_OP,
    compact_latest,
    resolve_unavailable,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.state_ttl import TTLStateStore
from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.statestore import BUCKET_COL


def merge_latest(
    batch: pd.DataFrame,
    prev: tuple | None,
    cols: list[str],
    seq_cols: list[str],
    unavailable_col: str | None = None,
    op_col: str | None = None,
) -> pd.Series:
    """Pandas reference fold for latest-per-key compaction — the
    independent model the SQL path (``resolve_unavailable`` +
    ``compact_latest`` in :func:`run_compacted_aggregate`) is tested
    against. Restored state (if any) sorts FIRST under a stable sort,
    so an equal seq from the new batch wins (arrival order within a
    batch).

    ``unavailable_col`` names the envelope's TOAST column-name list
    (see ``cdc.changelog.resolve_unavailable``): a row listing a
    column there did NOT carry that value on the wire, so the merge
    folds forward in seq order, filling each marked column from the
    previous resolved row. The returned winner is fully resolved and
    its marker list cleared — state then always stores materialized
    values, which is exactly what makes the carry work ACROSS
    micro-batches (the restored state row is the fold's seed).

    ``op_col``: delete tombstones carry real NULLs in their value
    columns, so they must not seed the carry — a marked update
    following a delete would silently resolve to NULL. Unreachable on
    a real Postgres stream (the INSERT that must intervene never marks
    columns), but guarded: when ``op_col`` is given, rows whose op is
    ``DELETE_OP`` keep the carry seed from the last non-delete row."""
    if prev is not None:
        batch = pd.concat([pd.DataFrame([prev], columns=cols), batch], ignore_index=True)
    batch = batch.sort_values(seq_cols, kind="mergesort")
    if unavailable_col is None or unavailable_col not in batch.columns:
        return batch.iloc[-1]
    rows = batch.to_dict("records")
    prev_row: dict | None = None
    for r in rows:
        ua = r.get(unavailable_col)
        for name in list(ua) if ua is not None else []:
            r[name] = prev_row[name] if prev_row is not None else None
        r[unavailable_col] = None
        if op_col is None or r.get(op_col) != DELETE_OP:
            prev_row = r
    return pd.Series([rows[-1][c] for c in cols], index=cols)


def run_compacted_aggregate(
    stream: DataFrame,
    state_dir: str,
    key_cols: list[str],
    seq_cols: list[str],
    group_cols: list[str],
    op_col: str | None = None,
    count_alias: str = "user_count",
    agg_exprs: list[F.Column] | None = None,
    sink: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str | None = None,
    query_name: str = "compacted_aggregate",
    n_buckets: int = 64,
    unavailable_col: str | None = None,
    ttl_col: str | None = None,
    ttl: int | None = None,
):
    """The reference's full stage-2 (upsert table → GROUP BY count →
    JDBC upsert, StreamingJobWithCustomDeserializer.java:156-194) as a
    foreachBatch pipeline over bucketed generational parquet state.

    Each micro-batch: read state for the buckets the batch touches ∪
    batch → compact_latest → commit ONLY those buckets as a new
    generation (atomic manifest flip, :class:`GenerationalStateStore`)
    → changelog-correct aggregate over the full state → ``sink(agg_df,
    batch_id)``. Restart-safe: the checkpoint tracks source progress,
    the merge is idempotent (last-write-wins by seq), and a replayed
    batch rewrites the same generation.

    The batch is used twice (its touched buckets, then the merge the
    commit writes), so it is persisted for the duration of the batch
    and unpersisted when the batch ends, failed or not: the source
    and every expression over it are evaluated once per row.

    ``ttl_col``/``ttl`` (both None by default = the reference's
    idle-state-retention-0 semantics, sql-client-conf.yaml:16-17)
    opt the state into an event-time horizon via
    :class:`~.state_ttl.TTLStateStore`: a key whose stored row's
    ``ttl_col`` falls more than ``ttl`` behind the store's persisted
    watermark becomes invisible to the merge and the aggregate — a
    later change for it lands as a fresh insert (and a marked TOAST
    column on that change resolves to NULL, having no surviving seed).
    Replay-deterministic: the watermark is the max committed event
    time, never a wall clock.
    """
    if "_src_rank" in stream.columns:
        # reserved internal tiebreak name: withColumn below would
        # silently overwrite (then drop) a caller column of that name,
        # and the reserved-set exclusion would also hide it from TOAST
        # value resolution — refuse loudly instead of corrupting it
        raise ValueError(
            "run_compacted_aggregate reserves the internal column name "
            "'_src_rank' for its state-vs-batch seq tiebreak; the input "
            "stream already carries a column of that name — rename it "
            "before compacting."
        )
    spark = stream.sparkSession
    # TTLStateStore with ttl=None is behavior-identical to the base
    # store (regression-tested byte-for-byte), so the default path is
    # unchanged reference semantics.
    store = TTLStateStore(
        spark,
        os.path.join(state_dir, "state"),
        key_cols,
        n_buckets=n_buckets,
        ttl_col=ttl_col,
        ttl=ttl,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        batch = store.with_bucket(batch).persist()
        try:
            merge_commit_aggregate(batch, batch_id)
        finally:
            batch.unpersist()

    def merge_commit_aggregate(batch: DataFrame, batch_id: int) -> None:
        # touched bucket ids: bounded by n_buckets, so the collect is
        # a tiny driver list, never data rows
        touched = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return
        full_compaction = store.gen_count() >= store.max_generations
        scope = None if full_compaction else touched
        prev = store.read(buckets=scope)
        # `_src_rank` makes state-vs-batch seq ties deterministic
        # (state first, so an equal seq from the new batch wins) —
        # the SQL-path mirror of merge_latest's stable-sort contract.
        # Ranks: restored state 0, batch 1.
        batch = batch.withColumn("_src_rank", F.lit(1))
        merged = (
            batch
            if prev is None
            else prev.withColumn("_src_rank", F.lit(0)).unionByName(batch)
        )
        tie_seq = [*seq_cols, "_src_rank"]
        if unavailable_col is not None and unavailable_col in merged.columns:
            # TOAST resolution over state ∪ batch: committed state
            # rows are already resolved (markers cleared below), so
            # they seed the per-key carry-forward for this batch's
            # marked columns — cross-batch semantics without keeping
            # history
            reserved = set(key_cols) | set(seq_cols) | {unavailable_col, BUCKET_COL, "_src_rank"}
            if op_col is not None:
                reserved.add(op_col)
            value_cols = [c for c in merged.columns if c not in reserved]
            merged = resolve_unavailable(
                merged, key_cols, tie_seq, value_cols, unavailable_col, op_col=op_col
            )
        compacted = compact_latest(
            merged, key_cols, tie_seq, op_col=op_col, drop_deletes=False
        ).drop("_src_rank")
        store.commit(
            compacted,
            list(range(store.n_buckets)) if full_compaction else touched,
            version=batch_id,
        )
        live = store.read()
        if op_col is not None:
            live = live.filter(~F.col(op_col).eqNullSafe(F.lit(DELETE_OP)))
        agg = live.groupBy(*[F.col(g) for g in group_cols]).agg(
            *(agg_exprs if agg_exprs else [F.count(F.lit(1)).alias(count_alias)])
        )
        if sink is not None:
            sink(agg, batch_id)

    writer = (
        stream.writeStream.foreachBatch(process)
        .outputMode("update")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir or os.path.join(state_dir, "checkpoint"))
    )
    return writer.start()
