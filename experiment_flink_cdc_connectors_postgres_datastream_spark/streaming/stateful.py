"""Custom stateful streaming operators on ``applyInPandasWithState``.

This is the Spark mapping SURVEY §2 names for the reference's keyed
stateful processing (KeyedProcessFunction over a keyed stream,
StreamingJobWithCustomDeserializer.java:83,204-218; changelog-correct
COUNT, SJCD:194): arbitrary per-key state with Arrow-batched user
logic, checkpointed by the engine like any streaming aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


#: register value: (seq tuple, live?)
Register = tuple[tuple[int, ...], bool]


def apply_register_events(
    reg: dict[str, Register],
    rows: Iterator[tuple],
    tombstone_retention: int | None = None,
) -> dict[str, Register]:
    """Pure last-write-wins register transition for one batch of
    ``(key, op, *seq)`` rows, plus tombstone GC.

    An event applies only if its seq tuple is strictly newer than the
    key's stored seq (late events lose, including late inserts against
    a tombstone).

    Tombstone GC (``tombstone_retention`` in units of ``seq[0]``,
    i.e. ms when seq leads with a timestamp): after applying the
    batch, dead registers with ``seq[0] < max_seen_seq0 - retention``
    are dropped — Kafka-compaction-style delete retention. The
    correctness contract is the standard replay-horizon one: an event
    older than the horizon must never arrive (it could resurrect a
    GC'd tombstone), which is exactly what a bounded-replay source
    (checkpointed file stream / bus with retention) guarantees.
    """
    for row in rows:
        k, op = row[0], row[1]
        s = tuple(int(v) for v in row[2:])
        if k not in reg or s > reg[k][0]:
            reg[k] = (s, op != "d")
    if tombstone_retention is not None and reg:
        horizon = max(s[0] for s, _ in reg.values()) - tombstone_retention
        for k in [k for k, (s, lv) in reg.items() if not lv and s[0] < horizon]:
            del reg[k]
    return reg


def live_count_with_state(
    flat: DataFrame,
    group_col: str = "schema",
    key_col: str = "key",
    seq_cols: tuple[str, ...] = ("ts_ms", "lsn"),
    op_col: str = "op",
    tombstone_retention: int | None = None,
    max_keys_per_group: int | None = 10_000_000,
) -> DataFrame:
    """Changelog-correct streaming GROUP BY COUNT as a CUSTOM STATEFUL
    OPERATOR: per group, the state is a last-write-wins register per
    key — ``(seq, live?)`` — and the emitted count is the number of
    live keys. An event applies only if its ``seq_cols`` tuple is
    newer than the key's stored seq, so the operator is correct under
    ARBITRARY delivery order across micro-batches (file-stream
    reorder, bus partition interleave, checkpoint replay): an update
    cannot double-count, a delete genuinely decrements, and a LATE
    insert older than a tombstone cannot resurrect the key — the
    cases a naive streaming ``dropDuplicates + count`` gets wrong.
    This is exactly the latest-per-key semantics of the batch
    ``count_live_by`` (the driver grades the equivalence).

    State-scale contract: ONE state row per group holding its key
    registers — the right shape when groups are few and per-group key
    cardinality is bounded (the reference counts users per pg-schema:
    2 groups). Two guards keep that assumption honest:

    - ``tombstone_retention`` (units of ``seq_cols[0]``; ms when the
      seq leads with a timestamp): dead registers older than
      ``max_seen_seq - retention`` are GC'd each batch, so deletes
      stop accumulating forever. Sources must not replay events older
      than the retention horizon (the standard watermark contract);
      ``None`` (default) retains tombstones forever — always correct,
      unbounded state.
    - ``max_keys_per_group``: hard ceiling on a group's register
      count; exceeding it raises with a pointer at
      ``streaming.run_compacted_aggregate`` (generational state store
      keyed by the PK — the per-key-state trade Flink makes) instead
      of silently degrading into an unbounded single state row.
    """
    seq = list(seq_cols)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            keys, seqs, live = state.get
            reg = {k: (tuple(s), bool(lv)) for k, s, lv in zip(keys, seqs, live)}
        else:
            reg = {}
        for pdf in pdfs:
            apply_register_events(
                reg,
                pdf[[key_col, op_col, *seq]].itertuples(index=False),
                tombstone_retention=tombstone_retention,
            )
        if max_keys_per_group is not None and len(reg) > max_keys_per_group:
            raise RuntimeError(
                f"live_count_with_state: group {key[0]!r} holds {len(reg)} key "
                f"registers (> max_keys_per_group={max_keys_per_group}); this "
                "operator keeps one state row per group and is scoped to "
                "bounded per-group key cardinality — use "
                "streaming.run_compacted_aggregate (per-key generational "
                "state) for unbounded keys"
            )
        state.update(
            (
                list(reg.keys()),
                [list(s) for s, _ in reg.values()],
                [lv for _, lv in reg.values()],
            )
        )
        n = sum(1 for _, lv in reg.values() if lv)
        yield pd.DataFrame({group_col: [key[0]], "user_count": [n]})

    return flat.groupBy(group_col).applyInPandasWithState(
        update,
        outputStructType=f"{group_col} string, user_count long",
        stateStructType="keys array<string>, seqs array<array<long>>, live array<boolean>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
