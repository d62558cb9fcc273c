"""The two streaming workloads: ``tail_steady`` and ``snapshot_drain``.

Both run the reference's two-stage topology:

- stage 1: CDC source -> ``parse_cdc``/``project_flat``/``with_key`` ->
  ``to_keyed_json`` -> ``spool_frames`` (the bus publish, in foreachBatch);
- stage 2: ``bus_upsert`` -> ``changelog_from_bus`` ->
  ``run_compacted_aggregate`` -> ``ParquetUpsertSink``.

Freshness of a change is the time from its creation stamp to the end of
the stage-2 sink commit of the first micro-batch whose input includes
it. Which stage-2 batch includes which change is read from the two
queries' committed offsets: stage 1's offsets are LSN ranges, its
spool files are named after its batch id, and stage 2's offsets are the
last spool file name planned.
"""

from __future__ import annotations

import json
import math
import os
import time
from collections.abc import Callable
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import SparkSession
from pyspark.sql.streaming.readwriter import DataStreamWriter
from pyspark.sql.types import LongType, StringType, StructField, StructType

from cdcbench.changegen import FIRST_LSN, SCHEMAS, TICK_S, ChangeGenerator
from cdcbench.standin import CountingCdcBenchDataSource, SegmentSlotDataSource
from cdcbench.tracing import Tracer, repeat_within
from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc.envelope import parse_cdc, project_flat, with_key
from experiment_flink_cdc_connectors_postgres_datastream_spark.queries.registry import ORACLES
from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks.bus import to_keyed_json
from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks.jdbc_upsert import ParquetUpsertSink
from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.bus_upsert import (
    changelog_from_bus,
    register_bus_source,
    spool_frames,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import compaction
from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.statestore import GenerationalStateStore

#: input sizes of a run, and of the smoke test's short run: tail_steady's
#: offered rate (changes/s) and warm-up backlog; snapshot_drain's backlog
#: (the sf0.1 events table) and the backlog of its warm-up drain
SIZES = {
    "full": {"tail_rate": 100.0, "tail_warmup": 400, "drain_rows": 100_000, "drain_warmup": 500},
    "smoke": {"tail_rate": 20.0, "tail_warmup": 40, "drain_rows": 3_000, "drain_warmup": 500},
}
#: snapshot_drain pacing
DRAIN_CHUNK = 10_000
DRAIN_CHUNKS_PER_TRIGGER = 8
DRAIN_POLL = 32_768
#: how long a pipeline may take to catch up once its input is complete
CATCH_UP_TIMEOUT_S = 60.0

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _progress(query) -> list[dict[str, Any]]:
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        for src in d.get("sources", []):
            for k in ("startOffset", "endOffset"):
                if isinstance(src.get(k), str):
                    src[k] = json.loads(src[k])
        out.append(d)
    return out


def _read_json(path: str | None) -> dict[str, Any]:
    if not path or not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Topology:
    """One instance of the two-stage pipeline under ``work``.

    ``table``/``fields``/``key_parts`` shape stage 1's typed events;
    ``group_col`` and ``agg_exprs`` shape stage 2's ``GROUP BY``; the
    sink is keyed by ``sink_key`` (``group_col`` renamed)."""

    def __init__(
        self,
        spark: SparkSession,
        work: str,
        tracer: Tracer,
        table: str,
        fields: list[tuple[str, Any]],
        group_col: str,
        sink_key: str,
        agg_exprs: list | None = None,
    ):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.table = table
        self.fields = fields
        self.group_col = group_col
        self.sink_key = sink_key
        self.agg_exprs = agg_exprs
        self.spool = os.path.join(work, "spool")
        self.state_dir = os.path.join(work, "state")
        self.sink_path = os.path.join(work, "sink")
        os.makedirs(self.spool, exist_ok=True)
        self.sink = ParquetUpsertSink(self.sink_path, key_cols=[sink_key], refresh=True)
        self.sink_end: dict[int, float] = {}
        self.rows_upserted = 0
        self.q1 = self.q2 = None

    def _publish(self, bdf, bid: int) -> None:
        with self.tracer.span("sinks.bus.publish", trace=f"stage1-{bid}"):
            spool_frames(bdf, self.spool, seq=bid)

    def _upsert(self, df, bid: int) -> None:
        with self.tracer.span("sinks.jdbc_upsert.upsert", trace=f"stage2-{bid}"):
            self.sink(df.withColumnRenamed(self.group_col, self.sink_key), bid)
        self.sink_end[bid] = time.time()
        if self.tracer.enabled:
            self.rows_upserted += len(self.sink_rows())

    def sink_rows(self) -> list[tuple]:
        """Rows of the committed sink table, read from parquet directly
        (no Spark job), as sorted ``(key, value...)`` tuples."""
        versions = sorted(
            int(n[len("manifest-") : -len(".json")])
            for n in os.listdir(self.sink_path)
            if n.startswith("manifest-") and n.endswith(".json")
        )
        with open(os.path.join(self.sink_path, f"manifest-{versions[-1]}.json"), encoding="utf-8") as fh:
            manifest = json.load(fh)
        rows: list[tuple] = []
        for b, gen in manifest["buckets"].items():
            if gen is None:
                continue
            bdir = os.path.join(self.sink_path, gen, f"_bucket={b}")
            for f in sorted(os.listdir(bdir)) if os.path.isdir(bdir) else []:
                if f.endswith(".parquet"):
                    t = pq.read_table(os.path.join(bdir, f))
                    cols = [self.sink_key] + [c for c in t.column_names if c not in (self.sink_key, "_bucket")]
                    rows.extend(zip(*(t.column(c).to_pylist() for c in cols)))
        return sorted(rows)

    def start(self, source_df) -> None:
        row_schema = StructType([StructField(n, t) for n, t in self.fields])
        names = [n for n, _ in self.fields]
        flat = with_key(
            project_flat(parse_cdc(source_df.select("value"), row_schema), self.table, names),
            "schema",
            names[0],
        )
        value_cols = ["op", "schema", "table", "ts_ms", "lsn", *names]
        wire = to_keyed_json(flat, key_col="key", topic=self.table, value_cols=value_cols)
        self.q1 = (
            wire.writeStream.foreachBatch(self._publish)
            .option("checkpointLocation", os.path.join(self.work, "ckpt1"))
            .queryName(f"stage1_{os.path.basename(self.work)}")
            .start()
        )
        value_schema = StructType(
            [
                StructField("op", StringType()),
                StructField("schema", StringType()),
                StructField("table", StringType()),
                StructField("ts_ms", LongType()),
                StructField("lsn", LongType()),
                *[StructField(n, t) for n, t in self.fields],
            ]
        )
        frames = self.spark.readStream.format("bus_upsert").option("path", self.spool).load()
        back = changelog_from_bus(frames, value_schema)
        with self.tracer.patched(DataStreamWriter, "foreachBatch", _span_foreach_batch(self.tracer)):
            self.q2 = compaction.run_compacted_aggregate(
                back,
                state_dir=self.state_dir,
                key_cols=["key"],
                seq_cols=["ts_ms", "lsn"],
                group_cols=[self.group_col],
                op_col="op",
                agg_exprs=self.agg_exprs,
                sink=self._upsert,
                checkpoint_dir=os.path.join(self.work, "ckpt2"),
                query_name=f"stage2_{os.path.basename(self.work)}",
            )

    def stop(self) -> None:
        for q in (self.q1, self.q2):
            if q is not None:
                q.stop()

    def check_alive(self) -> None:
        for q in (self.q1, self.q2):
            if q is not None and (q.exception() is not None or not q.isActive):
                raise RuntimeError(f"streaming query {q.name} died: {q.exception()}")

    def spool_last_part(self) -> dict[int, str]:
        """Stage-1 batch id -> name of its last spool file."""
        last: dict[int, str] = {}
        for n in sorted(os.listdir(self.spool)):
            if n.startswith("frames-") and n.endswith(".jsonl"):
                last[int(n.split("-")[1])] = n
        return last

    def batch_map(self) -> tuple[list[dict], list[dict], dict[int, int]]:
        """(stage-1 progress, stage-2 progress, stage-1 batch id -> id
        of the first stage-2 batch whose sink commit includes it)."""
        p1 = [p for p in _progress(self.q1) if p["numInputRows"] > 0]
        p2 = [p for p in _progress(self.q2) if p["numInputRows"] > 0]
        last = self.spool_last_part()
        ends = sorted(
            (p["batchId"], p["sources"][0]["endOffset"].get("last", ""))
            for p in p2
            if p["batchId"] in self.sink_end
        )
        first: dict[int, int] = {}
        for p in p1:
            name = last.get(p["batchId"])
            for b2, end_last in ends:
                if name is not None and end_last >= name:
                    first[p["batchId"]] = b2
                    break
        return p1, p2, first

    def frames_sunk(self):
        """Yield (wire frame, end of the sink commit of the first stage-2
        batch that planned its spool file, or None) for every published
        frame. Spool files are the unit stage 2 plans, so a file split
        across two stage-2 listings is attributed exactly."""
        p2 = [p for p in _progress(self.q2) if p["numInputRows"] > 0 and p["batchId"] in self.sink_end]
        ends = sorted((p["batchId"], p["sources"][0]["endOffset"].get("last", "")) for p in p2)
        for name in sorted(n for n in os.listdir(self.spool) if n.endswith(".jsonl")):
            sunk = next((self.sink_end[b] for b, last in ends if last >= name), None)
            with open(os.path.join(self.spool, name), encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        yield line, sunk

    def wait_until_sunk(self, done_offset, timeout: float) -> float:
        """Wait until stage 1 has committed ``done_offset`` (a predicate
        on its end offset) and a stage-2 sink commit includes that
        batch; return the end time of that sink commit."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            self.check_alive()
            p1, _, first = self.batch_map()
            final = [p["batchId"] for p in p1 if done_offset(p["sources"][0]["endOffset"])]
            if final and final[0] in first:
                return self.sink_end[first[final[0]]]
            time.sleep(0.2)
        raise TimeoutError(f"pipeline did not catch up within {timeout:.0f}s")

    def layer_numbers(self) -> dict[str, float]:
        """Per-layer numbers from progress, spool and state files."""
        p1, p2, _ = self.batch_map()
        out: dict[str, float] = {}
        all_p = p1 + p2
        for stage, ps in (("stage1", p1), ("stage2", p2)):
            for key, name in (("latestOffset", "latest_offset_ms"), ("addBatch", "add_batch_ms")):
                vals = [p["durationMs"].get(key, 0) for p in ps] or [0]
                out[f"{stage}.{name}"] = float(np.median(vals))
                out[f"{stage}.{name}_max"] = float(max(vals))
            out[f"{stage}.batches"] = float(len(ps))
        for key, name in (("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"), ("queryPlanning", "query_planning_ms")):
            vals = [p["durationMs"].get(key, 0) for p in all_p] or [0]
            out[f"engine.{name}"] = float(np.median(vals))
            out[f"engine.{name}_max"] = float(max(vals))
        out["stage2.rows_per_batch"] = float(np.median([p["numInputRows"] for p in p2] or [0]))
        out["sinks.bus.files"] = float(sum(1 for n in os.listdir(self.spool) if n.endswith(".jsonl")))
        out["sinks.bus.frames"] = float(sum(p["numInputRows"] for p in p1))
        out["streaming.statestore.bytes_end"] = float(_du(os.path.join(self.state_dir, "state")))
        add2 = sum(p["durationMs"].get("addBatch", 0) for p in p2) / 1000.0
        spans2 = self.tracer.total_s("stage2.foreach_batch")
        out["stage2.span_share_of_add_batch"] = spans2 / add2 if add2 else 0.0
        return out


def _span_foreach_batch(tracer: Tracer) -> Callable[[Callable], Callable]:
    """A ``make`` for ``DataStreamWriter.foreachBatch``: the batch
    function runs inside a ``stage2.foreach_batch`` span, the parent of
    the state-store and sink spans."""

    def make(original: Callable) -> Callable:
        def foreach_batch(writer, func):
            def traced(df, bid):
                with tracer.span("stage2.foreach_batch", trace=f"stage2-{bid}"):
                    return func(df, bid)

            return original(writer, traced)

        return foreach_batch

    return make


def trace_streaming_layers(tracer: Tracer) -> None:
    """Spans around the state store and the compaction's latest-row
    merge, patched where their callers look them up."""

    def make_commit(original):
        def commit(store, df, touched_buckets, version):
            gens = store.gen_count()
            with tracer.span(
                "streaming.statestore.commit",
                root=store.root,
                gens_before=gens,
                full=gens >= store.max_generations,
            ):
                return original(store, df, touched_buckets, version)

        return commit

    def make_read(original):
        def read(store, buckets=None):
            with tracer.span("streaming.statestore.read", root=store.root):
                return original(store, buckets=buckets)

        return read

    tracer.patch(GenerationalStateStore, "commit", make_commit)
    tracer.patch(GenerationalStateStore, "read", make_read)
    tracer.patch(compaction, "compact_latest", tracer.spanned("cdc.changelog.compact_latest"))


def statestore_numbers(tracer: Tracer) -> dict[str, float]:
    """State-store layer numbers of the compaction stores only (the
    sink has a store of its own, under ``<work>/sink``, whose spans nest
    under the sink spans)."""
    mine = lambda name: [s for s in tracer.named(name) if os.path.basename(s["root"]) == "state"]  # noqa: E731
    commits = mine("streaming.statestore.commit")
    reads = mine("streaming.statestore.read")
    return {
        "streaming.statestore.read_s": sum(s["end"] - s["start"] for s in reads),
        "streaming.statestore.commit_s": sum(s["end"] - s["start"] for s in commits),
        "streaming.statestore.commits": float(len(commits)),
        "streaming.statestore.full_compactions": float(sum(1 for s in commits if s["full"])),
        "streaming.statestore.generations_max": float(max([s["gens_before"] for s in commits] or [0])),
    }


def _quantiles(samples: list[float]) -> tuple[float, float]:
    a = np.asarray(samples, dtype=float)
    return float(np.percentile(a, 50)), float(np.percentile(a, 99))


# ---------------------------------------------------------------- tail_steady


USERS_FIELDS = [("id", LongType()), ("full_name", StringType())]


def _slot_stream(spark: SparkSession, segments: str, stats: str | None):
    reader = (
        spark.readStream.format("cdcbench_slot")
        .option("segment_dir", segments)
        .option("schema_list", ",".join(SCHEMAS))
        .option("plugin_name", "wal2json")
    )
    if stats is not None:
        reader = reader.option("stats_path", stats)
    return reader.load()


def prepare_inputs(workload: str, work: str, seed: int, size: str) -> dict[str, Any]:
    """The run's inputs under a fresh ``work`` dir, from ``seed`` alone."""
    os.makedirs(work)
    sizes = SIZES[size]
    if workload == "tail_steady":
        segments = os.path.join(work, "segments")
        os.makedirs(segments)
        gen = ChangeGenerator(segments, seed=seed, rate=sizes["tail_rate"])
        return {"work": work, "segments": segments, "gen": gen, **sizes}
    events = os.path.join(work, "events.parquet")
    write_events(events, sizes["drain_rows"], seed)
    warm = os.path.join(work, "warm_events.parquet")
    write_events(warm, sizes["drain_warmup"], seed + 1)
    return {"work": work, "events": events, "warm": warm, "oracle": handoff_oracle(events), **sizes}


def prepare_tail(spark: SparkSession, ctx: dict[str, Any], tracer: Tracer) -> dict[str, Any]:
    """Start the topology over a fresh slot and push a warm-up backlog
    through both stages; the measured changes come after it."""
    spark.dataSource.register(SegmentSlotDataSource)
    register_bus_source(spark)
    work, gen = ctx["work"], ctx["gen"]
    stats = os.path.join(work, "slot_stats.json") if tracer.enabled else None
    topo = Topology(spark, os.path.join(work, "pipeline"), tracer, "users", USERS_FIELDS, "schema", "pgschema")
    topo.start(_slot_stream(spark, ctx["segments"], stats))
    gen.emit_backlog(ctx["tail_warmup"], time.time())
    warm_end = gen.next_lsn
    topo.wait_until_sunk(lambda o: o.get("lsn", 0) >= warm_end, CATCH_UP_TIMEOUT_S)
    tracer.spans.clear()  # spans and slot counters describe the measured changes only
    return {**ctx, "topo": topo, "stats": stats, "stats_warm": _read_json(stats), "first_lsn": warm_end}


def run_tail(ctx: dict[str, Any], seconds: float) -> dict[str, Any]:
    gen: ChangeGenerator = ctx["gen"]
    topo: Topology = ctx["topo"]
    first_lsn = ctx["first_lsn"]
    t0 = time.time() + TICK_S
    gen.start(t0, seconds)
    gen.join(seconds + 30)
    end_lsn = gen.next_lsn
    done = topo.wait_until_sunk(lambda o: o.get("lsn", 0) >= end_lsn, CATCH_UP_TIMEOUT_S)
    p1, p2, _ = topo.batch_map()
    samples: list[float] = []
    batches = set()
    for line, sunk in topo.frames_sunk():
        lsn = json.loads(json.loads(line)["value"])["lsn"]
        if lsn >= first_lsn and sunk is not None:
            samples.append(sunk - gen.due[lsn - FIRST_LSN])
            batches.add(sunk)
    n_changes = end_lsn - first_lsn
    missing = n_changes - len(samples)
    expected = sorted(gen.live_counts().items())
    got = [(k, int(v)) for k, v in topo.sink_rows()]
    p50, p99 = _quantiles(samples)
    late = gen.late_max_s
    ops_failed = int(missing != 0) + int(got != expected) + int(late > TICK_S)
    return {
        "metrics": {
            "freshness_p50_s": p50,
            "freshness_p99_s": p99,
            "suite_s": done - t0,
            "drain_rows_per_s": n_changes / (done - t0),
        },
        "attempted": len(p1) + len(p2) + 3,
        "failed": ops_failed,
        "checks": {
            "sink_equals_model": got == expected,
            "every_change_sunk_once": missing == 0,
            "generator_on_schedule": late <= TICK_S,
        },
        "layers": {"freshness.samples": float(len(samples)), "freshness.batches": float(len(batches)), "gen.late_max_s": late},
        "sample_count": len(samples),
    }


# ------------------------------------------------------------- snapshot_drain

EVENTS_FIELDS = [("event_id", LongType()), ("user_id", LongType()), ("event_type", StringType())]


def write_events(path: str, n: int, seed: int) -> None:
    """An events table shaped like the testdata's (ids 0..n-1)."""
    rng = np.random.default_rng(seed)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(base + np.sort(rng.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(150, n // 70), n, dtype=np.int64)),
            "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    pq.write_table(table, path)


def handoff_oracle(events_path: str) -> list[tuple]:
    """The ``cdc_snapshot_tail_handoff`` registry oracle over ``events_path``."""
    import duckdb  # noqa: PLC0415

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
        rows = con.sql(ORACLES["cdc_snapshot_tail_handoff"]).fetchall()
    finally:
        con.close()
    return sorted((str(t), int(n), int(c)) for t, n, c in rows)


def tail_feed_last_lsn(n: int) -> int:
    """Highest LSN of ``ParquetCdcBenchClient``'s tail feed over ids 0..n-1."""
    upd = (n - 1) // 10 * 10
    dele = (n - 1) // 14 * 14
    return max(4 * upd + 5, 4 * dele + 6)


def tail_feed_size(n: int) -> int:
    return (n - 1) // 10 + 1 + (n - 1) // 14 + 1


def _snapshot_chunks(start: dict, end: dict, n: int) -> int:
    """Keyset chunks between two committed offsets of the snapshot
    phase over ids 0..n-1: a key is the last id of the span planned so
    far, ``(table, None)`` a finished table and ``(None, None)`` the
    start. A span that ends in the WAL phase holds no snapshot rows."""

    def last_id(o: dict) -> int:
        if o.get("table") is None:
            return -1
        return n - 1 if o.get("key") is None else int(o["key"][0])

    if start.get("phase", "snapshot") != "snapshot" or end.get("phase") != "snapshot":
        return 0
    return math.ceil(max(last_id(end) - last_id(start), 0) / DRAIN_CHUNK)


def drain_once(spark: SparkSession, work: str, events: str, n: int, tracer: Tracer) -> dict[str, Any]:
    """One drain of the ``cdc_full_bench`` backlog through a fresh topology."""
    os.makedirs(work)
    agg = [F.count(F.lit(1)).alias("n_live"), F.sum("event_id").cast("long").alias("id_checksum")]
    topo = Topology(spark, work, tracer, "events", EVENTS_FIELDS, "event_type", "event_type", agg)
    stats = os.path.join(work, "slot_stats.json") if tracer.enabled else None
    src = (
        spark.readStream.format("cdcbench_full")
        .option("path", events)
        .option("table", "events")
        .option("pk", "event_id")
        .option("snapshotChunkSize", str(DRAIN_CHUNK))
        .option("snapshot_chunks_per_trigger", str(DRAIN_CHUNKS_PER_TRIGGER))
        .option("poll_batch_size", str(DRAIN_POLL))
    )
    src = (src.option("stats_path", stats) if stats else src).load()
    end_lsn = tail_feed_last_lsn(n) + 1
    t0 = time.time()
    topo.start(src)
    try:
        done = topo.wait_until_sunk(
            lambda o: o.get("phase") == "wal" and o.get("lsn", 0) >= end_lsn, CATCH_UP_TIMEOUT_S
        )
    finally:
        topo.stop()
    p1, p2, _ = topo.batch_map()
    samples = [sunk - t0 for _, sunk in topo.frames_sunk() if sunk is not None]
    chunks = sum(
        _snapshot_chunks(p["sources"][0].get("startOffset") or {}, p["sources"][0]["endOffset"], n) for p in p1
    )
    captured = n + tail_feed_size(n)
    return {
        "topo": topo,
        "stats": stats,
        "drain_s": done - t0,
        "captured": captured,
        "samples": samples,
        "unsunk": captured - len(samples),
        "batches": len(set(samples)),
        "ops": len(p1) + len(p2),
        "sink": [(k, int(a), int(b)) for k, a, b in topo.sink_rows()],
        "chunks": chunks,
    }


def prepare_drain(spark: SparkSession, ctx: dict[str, Any], tracer: Tracer) -> dict[str, Any]:
    """Warm the JVM and workers with one small drain of its own."""
    spark.dataSource.register(CountingCdcBenchDataSource)
    register_bus_source(spark)
    drain_once(spark, os.path.join(ctx["work"], "warmup"), ctx["warm"], ctx["drain_warmup"], Tracer(False))
    return ctx


def run_drain(spark: SparkSession, ctx: dict[str, Any], seconds: float, tracer: Tracer) -> dict[str, Any]:
    """Drain the backlog with a fresh topology each time, as often as
    ``repeat_within`` says; report medians over the drains."""

    def drain(i: int) -> dict[str, Any]:
        tracer.spans.clear()  # per-layer numbers describe the last drain
        return drain_once(spark, os.path.join(ctx["work"], f"drain{i}"), ctx["events"], ctx["drain_rows"], tracer)

    results = repeat_within(seconds, drain)
    drains = [r["drain_s"] for r in results]
    p50s, p99s = zip(*(_quantiles(r["samples"]) for r in results))
    wrong = sum(1 for r in results if r["sink"] != ctx["oracle"] or r["unsunk"] != 0)
    last = results[-1]
    return {
        "metrics": {
            "freshness_p50_s": float(np.median(p50s)),
            "freshness_p99_s": float(np.median(p99s)),
            "suite_s": float(np.median(drains)),
            "drain_rows_per_s": float(np.median([r["captured"] / r["drain_s"] for r in results])),
        },
        "attempted": sum(r["ops"] for r in results) + len(results),
        "failed": wrong,
        "checks": {"sink_equals_handoff_oracle": wrong == 0},
        "notes": {"drains": len(results)},
        "layers": {
            "freshness.samples": float(len(last["samples"])),
            "freshness.batches": float(last["batches"]),
            "sources.postgres_cdc.snapshot_chunks": float(last["chunks"]),
        },
        "topo": last["topo"],
        "stats": last["stats"],
        "sample_count": sum(len(r["samples"]) for r in results),
    }


def stream_layers(ctx: dict[str, Any], res: dict[str, Any], tracer: Tracer) -> dict[str, float]:
    """Per-layer numbers of a traced streaming run."""
    topo: Topology = res.pop("topo", None) or ctx["topo"]
    stats_path = res.pop("stats", None) or ctx.get("stats")
    out = topo.layer_numbers()
    out.update(statestore_numbers(tracer))
    out["sinks.bus.publish_s"] = tracer.total_s("sinks.bus.publish")
    out["sinks.jdbc_upsert.upsert_s"] = tracer.total_s("sinks.jdbc_upsert.upsert")
    out["sinks.jdbc_upsert.rows_upserted"] = float(topo.rows_upserted)
    end, warm = _read_json(stats_path), ctx.get("stats_warm") or {}
    stats = {k: v - warm.get(k, 0) for k, v in end.items()}
    out["sources.postgres_cdc.peek_s"] = float(stats.get("peek_s", 0.0))
    out["sources.postgres_cdc.peek_calls"] = float(stats.get("peek_calls", 0))
    peeked = stats.get("peeked", 0)
    out["sources.postgres_cdc.peek_useful_ratio"] = stats.get("distinct", 0) / peeked if peeked else 0.0
    res["spans"] = tracer
    return out
