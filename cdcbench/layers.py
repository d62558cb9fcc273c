"""The per-layer metrics a traced run prints, with their units.

Every traced run prints every name below. A layer that a workload does
not touch reads 0 there, which is itself the prediction: for example
``io.load_table_calls`` is 0 on both streaming workloads, and the
streaming layers are 0 on ``batch_queries``. ``traced.*`` repeats the
run's end-to-end metrics as measured with tracing on; the tracing
overhead is ``traced.<metric>`` minus ``<metric>`` of an untraced run.
"""

from __future__ import annotations

from typing import Any

PER_LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "io.load_table_s": "s",
    "io.load_table_calls": "count",
    "io.load_table_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "stage1.latest_offset_ms": "ms",
    "stage1.latest_offset_ms_max": "ms",
    "stage1.add_batch_ms": "ms",
    "stage1.add_batch_ms_max": "ms",
    "stage2.latest_offset_ms": "ms",
    "stage2.latest_offset_ms_max": "ms",
    "stage2.add_batch_ms": "ms",
    "stage2.add_batch_ms_max": "ms",
    "stage2.span_share_of_add_batch": "fraction",
    "engine.wal_commit_ms": "ms",
    "engine.wal_commit_ms_max": "ms",
    "engine.commit_offsets_ms": "ms",
    "engine.commit_offsets_ms_max": "ms",
    "engine.query_planning_ms": "ms",
    "engine.query_planning_ms_max": "ms",
    "stage1.batches": "count",
    "stage2.batches": "count",
    "stage2.rows_per_batch": "rows",
    "sources.postgres_cdc.peek_s": "s",
    "sources.postgres_cdc.peek_calls": "count",
    "sources.postgres_cdc.peek_useful_ratio": "fraction",
    "sources.postgres_cdc.snapshot_chunks": "count",
    "sinks.bus.publish_s": "s",
    "sinks.bus.files": "count",
    "sinks.bus.frames": "count",
    "streaming.statestore.read_s": "s",
    "streaming.statestore.commit_s": "s",
    "streaming.statestore.commits": "count",
    "streaming.statestore.full_compactions": "count",
    "streaming.statestore.generations_max": "count",
    "streaming.statestore.bytes_end": "bytes",
    "sinks.jdbc_upsert.upsert_s": "s",
    "sinks.jdbc_upsert.rows_upserted": "count",
    "gen.late_max_s": "s",
    "freshness.samples": "count",
    "freshness.batches": "count",
    "error_rate": "fraction",
    "traced.setup_s": "s",
    "traced.freshness_p50_s": "s",
    "traced.freshness_p99_s": "s",
    "traced.drain_rows_per_s": "rows/s",
    "traced.suite_s": "s",
}


def per_layer(res: dict[str, Any], attempted: int, failed: int) -> dict[str, float]:
    """All per-layer values of a traced run, 0 for layers it bypassed."""
    values = {name: 0.0 for name in PER_LAYER_UNITS}
    values.update(res["layers"])
    values["error_rate"] = failed / attempted
    for name, value in res["metrics"].items():
        values[f"traced.{name}"] = value
    unknown = sorted(set(values) - set(PER_LAYER_UNITS))
    if unknown:
        raise KeyError(f"per-layer values without a declared unit: {unknown}")
    return values
