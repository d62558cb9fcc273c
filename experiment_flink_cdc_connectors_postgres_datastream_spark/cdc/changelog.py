"""Changelog algebra: upsert-table materialization and
changelog-correct aggregates.

This is the one genuinely custom piece of execution semantics in the
reference (SURVEY.md §4.2): a Flink *upsert table*
(`PRIMARY KEY … NOT ENFORCED` over a Pulsar changelog,
StreamingJobWithCustomDeserializer.java:156-174) makes
``SELECT schema, COUNT(1) … GROUP BY schema``
(StreamingJobWithCustomDeserializer.java:194) count *live keys*, so
re-emitting an existing key (update) must not double count
(README.md:108-114: 3 inserts + 2 updates ⇒ counts 2 and 1).

Spark has no changelog tables, so we materialize explicitly:

- ``compact_latest``: latest row per key. Implemented with
  ``max_by(struct(payload), struct(seq))`` — a hash aggregation with
  map-side partial combine, ONE shuffle keyed by the upsert key and no
  per-partition sort. At 100 TB this beats the classic
  ``row_number() OVER (PARTITION BY key ORDER BY seq DESC) = 1``
  window (shuffle + full sort per key group) while producing identical
  rows as long as ``seq`` is a total order (pass tiebreaker columns).
- tombstones: rows whose op column is ``'d'`` are dropped *after*
  compaction (delete wins if it is the latest event for the key) —
  the delete semantics the reference leaves untested (README.md:143).
- ``count_live_by``: compaction + grouped count = the reference's
  streaming aggregate, batch-evaluated.
- ``changelog_diff``: add/retract rows between two states — batch
  analog of Flink's ``toRetractStream``
  (StreamingJobWithCustomDeserializer.java:178-180, commented there).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

#: tombstone op code (Debezium delete)
DELETE_OP = "d"


def compact_latest(
    df: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str | None = None,
    drop_deletes: bool = True,
) -> DataFrame:
    """Latest row per key: last-write-wins over ``seq_cols`` (lexicographic;
    include a unique tiebreaker for determinism).

    Output columns = input columns, one row per live key.
    """
    payload = [c for c in df.columns]
    ranked = df.groupBy(*[F.col(k) for k in key_cols]).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(*[F.col(s) for s in seq_cols]),
        ).alias("_latest")
    )
    out = ranked.select(*[F.col(f"_latest.{c}").alias(c) for c in payload])
    if op_col is not None and drop_deletes:
        # null-safe: a NULL op (source without an op column, permissive
        # parse) is a live row, not a tombstone — plain != would drop it
        out = out.filter(~F.col(op_col).eqNullSafe(F.lit(DELETE_OP)))
    return out


def count_live_by(
    df: DataFrame,
    group_cols: list[str],
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str | None = None,
) -> DataFrame:
    """Changelog-correct grouped count: COUNT of live keys per group
    (the reference's `SELECT schema, COUNT(1) AS user_count … GROUP BY
    schema` over an upsert table, StreamingJobWithCustomDeserializer.java:194).

    Group membership of a key is decided by its LATEST row (an update
    that moves a key between groups counts in the new group only).
    """
    return agg_live_by(
        df, group_cols, key_cols, seq_cols, [F.count(F.lit(1)).alias("user_count")], op_col=op_col
    )


def agg_live_by(
    df: DataFrame,
    group_cols: list[str],
    key_cols: list[str],
    seq_cols: list[str],
    aggs: list[F.Column],
    op_col: str | None = None,
) -> DataFrame:
    """Changelog-correct grouped aggregate beyond COUNT: evaluate any
    list of Spark aggregate expressions over the LIVE state (latest row
    per key, tombstones dropped) — the general form of the reference's
    upsert-table aggregation (StreamingJobWithCustomDeserializer.java:194
    computes only COUNT(1); a Flink user writing SUM/AVG/MIN/MAX over
    the same upsert table gets exactly these semantics).

    Same physical shape as :func:`count_live_by`: one shuffle keyed by
    the upsert key (map-side-combined ``max_by``), then one shuffle on
    the group key — both hash aggregations, no sorts.
    """
    live = compact_latest(df, key_cols, seq_cols, op_col=op_col)
    return live.groupBy(*[F.col(g) for g in group_cols]).agg(*aggs)


def changelog_diff(
    before: DataFrame,
    after: DataFrame,
    key_cols: list[str],
    change_col: str = "change",
) -> DataFrame:
    """Retract-stream analog: rows to retract (-1) and add (+1) to turn
    state ``before`` into state ``after``. Full-row comparison; both
    inputs must share a schema. One shuffle (union + group by all
    columns)."""
    cols = before.columns
    b = before.select(*cols).withColumn("_w", F.lit(-1))
    a = after.select(*cols).withColumn("_w", F.lit(1))
    return (
        b.unionByName(a)
        .groupBy(*cols)
        .agg(F.sum("_w").alias("_net"))
        .filter(F.col("_net") != 0)
        .select(*cols, F.when(F.col("_net") > 0, F.lit("add")).otherwise(F.lit("retract")).alias(change_col))
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type-2 materialization of a changelog:
    every change event becomes a versioned row with a validity interval
    ``[seq, next seq)`` and a current flag — the standard warehouse
    consumer of a CDC feed (the reference's changelog,
    StreamingJobWithCustomDeserializer.java:156-174, compacted to ONLY
    the latest row by `compact_latest`; SCD2 instead keeps the full
    history queryable "as of" any point).

    ``seq_cols[0]`` is the validity axis (its ``lead`` per key bounds
    the interval); remaining ``seq_cols`` are tiebreakers making the
    per-key order total. Every change event — including a tombstone —
    becomes a version row here (an SCD2 warehouse keeps the delete as
    the final, still-queryable version); dropping dead keys entirely
    is `compact_latest`'s contract, not this one's.

    One shuffle keyed by the SCD key with a per-key sort — a window
    is the right physical shape here because
    every row needs its successor, not just the max (contrast
    `compact_latest`'s sort-free ``max_by``). At 100 TB this
    partitions by key exactly like the compaction, so the two can
    share a co-partitioned exchange.

    TOAST-able source tables: run ``resolve_unavailable`` FIRST —
    an envelope that marks a column TOAST-unavailable would otherwise
    write a NULL into that history version. The resolution window
    partitions by the same key, so it shares this exchange too.
    """
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(
        *[F.col(s) for s in seq_cols]
    )
    nxt = F.lead(F.col(seq_cols[0])).over(w)
    return (
        df.withColumn(valid_from_col, F.col(seq_cols[0]))
        .withColumn(valid_to_col, nxt)
        .withColumn(current_col, nxt.isNull())
    )


def resolve_unavailable(
    df: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    value_cols: list[str],
    unavailable_col: str = "unavailable",
    op_col: str | None = None,
) -> DataFrame:
    """Resolve TOAST-unavailable column values by carrying the last
    AVAILABLE value forward within each key's change history.

    Postgres does not ship an out-of-line (TOASTed) value on the WAL
    when an UPDATE leaves it unchanged — pgoutput marks the column
    'u' instead (the decoder surfaces those names in the envelope's
    ``unavailable`` list). Without resolution, materializing such a
    stream overwrites the stored value with NULL: update any OTHER
    column of a row holding a 100 KB text and the text silently
    vanishes from the live table. (Debezium ships the same hazard to
    its consumers as ``unavailable.value.placeholder``; this operator
    is the consumer-side fix, done once, inside the engine.)

    Semantics per value column c, per key, in ``seq_cols`` order:
    - row does NOT list c as unavailable → keep the row's own value
      (including a real NULL — NULLing a TOAST column is a genuine
      state change and must win);
    - row lists c → take the most recent prior value from a row that
      did not list it (INSERT/snapshot rows never list columns, so a
      key's history always starts available; a stream consumed
      WITHOUT a snapshot can start on an unavailable row, which
      resolves to NULL — the value genuinely never appeared on the
      wire).

    The real-NULL-vs-carry distinction is why this is NOT
    ``last(c, ignorenulls=True)``: each value is wrapped in a 1-field
    struct that is NULL only when the row marks the column
    unavailable, so ``last(_, ignorenulls=True)`` skips exactly the
    unavailable rows and nothing else.

    ``op_col``: delete tombstones carry real NULLs, so they must not
    seed the carry (a marked update right after a delete would resolve
    to NULL; unreachable on a real Postgres stream — the intervening
    INSERT never marks columns — but guarded). When given, rows whose
    op is ``DELETE_OP`` keep their own values and are skipped as carry
    sources, mirroring ``streaming.compaction.merge_latest``.

    Ordering: ``seq_cols`` must totally order each key's history —
    rows that TIE on every seq column resolve in nondeterministic
    order (a window has no stable-sort arrival order to fall back on,
    unlike ``merge_latest``'s mergesort). Callers unioning restored
    state with a batch append a state-first rank column
    (``run_compacted_aggregate`` does).

    Run BEFORE ``compact_latest`` (compaction keeps one row per key —
    the carry-forward needs the history). Scale shape: all value
    columns resolve in ONE window over ONE exchange on the key — the
    same partitioning compaction needs next, so AQE/ENSURE_REQUIREMENTS
    reuses it; nothing here adds a second shuffle to the pipeline.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(s).asc() for s in seq_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    can_seed = (
        F.lit(True)
        if op_col is None
        else ~F.col(op_col).eqNullSafe(F.lit(DELETE_OP))
    )
    out = df
    for c in value_cols:
        is_marked = F.coalesce(
            F.array_contains(F.col(unavailable_col), F.lit(c)), F.lit(False)
        )
        seed = F.when(~is_marked & can_seed, F.struct(F.col(c).alias("v")))
        out = out.withColumn(
            c,
            F.when(
                is_marked, F.last(seed, ignorenulls=True).over(w).getField("v")
            ).otherwise(F.col(c)),
        )
    # markers are consumed: every listed column now holds a
    # materialized value, and a cleared list is what lets resolved
    # rows seed the NEXT resolution when state tables round-trip
    # through this operator incrementally
    return out.withColumn(unavailable_col, F.lit(None).cast("array<string>"))
