"""Streaming changelog materialization: the continuous analog of
``cdc.changelog`` (SURVEY.md §2.3 A1/A3).

``run_compacted_aggregate`` — ``foreachBatch``, exactly-once with a
checkpoint location: merge each micro-batch into a compacted state
table (bucketed generational parquet, :mod:`.statestore`, the one
state store), recompute the grouped aggregate, and hand the refreshed
aggregate to a sink callback (our JDBC-upsert path, K3). A micro-batch rewrites only the
key-hash buckets it touches and publishes via an atomic manifest flip
— per-batch write I/O is O(touched keys' buckets), not O(total
state), and a crash mid-write leaves the previous state generation
intact. State is partitioned by the upsert key — the same hash the
reference's ``keyBy`` (StreamingJobWithCustomDeserializer.java:83)
implies — and never expires unless the store's event-time TTL is opted
into, matching the reference's idle-state-retention-0 config
(sql-client-conf.yaml:16-17).
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
from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.statestore import (
    BUCKET_COL,
    DEFAULT_N_BUCKETS,
    GenerationalStateStore,
)


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


#: internal columns the merge adds: ``_src_rank`` (state 0, batch 1)
#: and, when the order names it, ``_row_seq`` (arrival in a partition)
SRC_RANK, ROW_SEQ = "_src_rank", "_row_seq"


def reject_internal_columns(columns: list[str], caller: str) -> None:
    """Refuse an input carrying a column the merge adds: the merge
    would silently overwrite, then drop it."""
    clash = [c for c in (SRC_RANK, ROW_SEQ) if c in columns]
    if clash:
        raise ValueError(
            f"{caller} reserves the internal column names {[SRC_RANK, ROW_SEQ]} "
            f"for its keyed merge; the input already carries {clash}: rename it."
        )


def touched_buckets(bucketed: DataFrame) -> list[int]:
    """Distinct ``_bucket`` ids: a collect of at most n_buckets ints."""
    return [r[0] for r in bucketed.select(BUCKET_COL).distinct().collect()]


def merge_batch(
    store: GenerationalStateStore,
    batch: DataFrame,
    key_cols: list[str],
    order: list[str],
    version: int,
    *,
    op_col: str | None = None,
    unavailable_col: str | None = None,
) -> bool:
    """The one keyed merge of a batch into the store's latest-per-key
    state: state of the touched buckets (of all buckets once the store
    owns ``max_generations`` generations: a full compaction) ∪ batch →
    TOAST resolution when ``unavailable_col`` is present (resolved
    state rows seed the carry) → latest row per key by ``order`` →
    commit as generation ``version``. False for an empty batch.

    ``order`` picks the winner: ``[*seq_cols, "_src_rank"]`` (highest
    seq; on a tie the batch beats state) or ``["_src_rank", *seq_cols,
    "_row_seq"]`` (a batch row always wins, as ``ON CONFLICT DO
    UPDATE`` does; then highest seq, then last arrival).

    The batch is persisted for the call (the touched-bucket collect and
    the commit both use it, so each row is evaluated once) and
    unpersisted when the call ends, failed or not."""
    cached = store.with_bucket(batch).persist()
    try:
        touched = touched_buckets(cached)
        if not touched:
            return False
        full_compaction = store.gen_count() >= store.max_generations
        prev = store.read(buckets=None if full_compaction else touched)

        def tagged(df: DataFrame, rank: int, row_seq: F.Column) -> DataFrame:
            df = df.withColumn(SRC_RANK, F.lit(rank))
            return df.withColumn(ROW_SEQ, row_seq) if ROW_SEQ in order else df

        merged = tagged(cached, 1, F.monotonically_increasing_id())
        if prev is not None:
            merged = tagged(prev, 0, F.lit(0).cast("long")).unionByName(merged)
        if unavailable_col is not None and unavailable_col in merged.columns:
            reserved = {*key_cols, *order, unavailable_col, BUCKET_COL, op_col}
            value_cols = [c for c in merged.columns if c not in reserved]
            merged = resolve_unavailable(merged, key_cols, order, value_cols, unavailable_col, op_col=op_col)
        compacted = compact_latest(merged, key_cols, order, op_col=op_col, drop_deletes=False)
        scope = list(range(store.n_buckets)) if full_compaction else touched
        store.commit(compacted.drop(SRC_RANK, ROW_SEQ), scope, version=version)
        return True
    finally:
        cached.unpersist()


def run_compacted_aggregate(
    stream: DataFrame,
    state_dir: str,
    key_cols: list[str],
    seq_cols: list[str],
    group_cols: list[str],
    op_col: str | None = None,
    agg_exprs: list[F.Column] | None = None,
    sink: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str | None = None,
    query_name: str = "compacted_aggregate",
    n_buckets: int = DEFAULT_N_BUCKETS,
    unavailable_col: str | None = None,
    ttl_col: str | None = None,
    ttl: int | None = None,
):
    """The reference's full stage-2 (upsert table → GROUP BY count →
    JDBC upsert, StreamingJobWithCustomDeserializer.java:156-194) as a
    foreachBatch pipeline over bucketed generational parquet state.

    Each micro-batch: :func:`merge_batch` with the order
    ``[*seq_cols, "_src_rank"]`` (highest seq wins; on a tie the batch
    beats state) commits ONLY the touched buckets as a new generation
    (atomic manifest flip) → changelog-correct aggregate over the full
    state (default ``COUNT(1) AS user_count``) → ``sink(agg_df,
    batch_id)``. The sink's merge (``ParquetUpsertSink``) is the same
    function with the order ``["_src_rank", *seq_cols, "_row_seq"]``.
    Restart-safe: the checkpoint tracks source progress, the merge is
    idempotent (last-write-wins by seq), and a replayed batch rewrites
    the same generation.

    ``n_buckets`` sizes a new store (a reopened one keeps its
    manifest's); the default 8 fits batches that touch every bucket,
    as the store's cost model (:mod:`.statestore`) explains.

    ``ttl_col``/``ttl`` (both None by default = the reference's
    idle-state-retention-0 semantics, sql-client-conf.yaml:16-17)
    are handed to the :class:`~.statestore.GenerationalStateStore` and
    opt the state into its event-time horizon: a key whose stored row's
    ``ttl_col`` falls more than ``ttl`` behind the store's persisted
    watermark becomes invisible to the merge and the aggregate — a
    later change for it lands as a fresh insert (and a marked TOAST
    column on that change resolves to NULL, having no surviving seed).
    Replay-deterministic: the watermark is the max committed event
    time, never a wall clock.
    """
    reject_internal_columns(stream.columns, "run_compacted_aggregate")
    store = GenerationalStateStore(
        stream.sparkSession,
        os.path.join(state_dir, "state"),
        key_cols,
        n_buckets=n_buckets,
        ttl_col=ttl_col,
        ttl=ttl,
    )
    order = [*seq_cols, SRC_RANK]

    def process(batch: DataFrame, batch_id: int) -> None:
        if not merge_batch(
            store, batch, key_cols, order, batch_id,
            op_col=op_col, unavailable_col=unavailable_col,
        ):
            return
        live = store.read()
        if op_col is not None:
            live = live.filter(~F.col(op_col).eqNullSafe(F.lit(DELETE_OP)))
        agg = live.groupBy(*[F.col(g) for g in group_cols]).agg(
            *(agg_exprs or [F.count(F.lit(1)).alias("user_count")])
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
