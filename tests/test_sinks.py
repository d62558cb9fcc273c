"""Sink tests: bus wire projection (K2), the K2↔S4 round-trip law,
and JDBC upsert SQL (K3)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql.types import LongType, StringType, StructField, StructType

from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks import ParquetUpsertSink, build_upsert_sql
from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks.bus import to_keyed_json
from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.bus_upsert import changelog_from_bus

from soakopt import soak_examples


def test_to_keyed_json_wire_shape(spark):
    df = spark.createDataFrame(
        [("schema1|1", "c", 1, "susan")], "key string, op string, id long, full_name string"
    )
    out = to_keyed_json(df, topic="users", value_cols=["op", "id", "full_name"])
    assert out.columns == ["key", "value", "topic"]
    row = out.collect()[0]
    assert bytes(row["key"]) == b"schema1|1"
    assert json.loads(bytes(row["value"])) == {"op": "c", "id": 1, "full_name": "susan"}
    assert row["topic"] == "users"


# ---- K2 ↔ S4 round-trip law ------------------------------------------
#
# A frame written by the K2 sink (`to_keyed_json`) and read back by the
# S4 source (`changelog_from_bus`) must reproduce the original typed
# envelope values exactly, and re-serializing the recovered envelope
# must reproduce the wire bytes byte-identically — the property a real
# Kafka/Pulsar user depends on when wiring sink→topic→source.

_ENVELOPE_SCHEMA = StructType(
    [
        StructField("op", StringType()),
        StructField("id", LongType()),
        StructField("full_name", StringType()),
    ]
)

# valid-utf8 text (no lone surrogates — they can't hit a JSON wire)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x10FFFF),
    max_size=24,
)
_rows = st.lists(
    st.tuples(
        _text,  # key (may be empty; unicode; JSON-hostile chars)
        st.sampled_from(["c", "u", "d", "r"]),  # op
        st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),  # id
        st.one_of(st.none(), _text),  # full_name
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=soak_examples(12), deadline=None)
@given(rows=_rows)
def test_bus_round_trip_property(spark, rows):
    df = spark.createDataFrame(
        rows, "key string, op string, id long, full_name string"
    )
    wire = to_keyed_json(df, topic="users", value_cols=["op", "id", "full_name"])
    back = changelog_from_bus(wire, _ENVELOPE_SCHEMA)

    def nones_first(t):
        # None is not orderable against str/int in Python; sort rows
        # by a None-safe key (hypothesis found ('', 'c', None, None)
        # vs ('', 'c', None, '') crashing the plain tuple sort)
        return tuple((v is not None, v) for v in t)

    got = sorted(
        ((r["key"], r["op"], r["id"], r["full_name"]) for r in back.collect()),
        key=nones_first,
    )
    assert got == sorted(rows, key=nones_first)
    # byte-identity: re-serializing the recovered envelope reproduces
    # the wire frame exactly (key bytes AND value JSON bytes)
    wire2 = to_keyed_json(back, topic="users", value_cols=["op", "id", "full_name"])
    frames1 = sorted(
        (bytes(r["key"]), bytes(r["value"]), r["topic"]) for r in wire.collect()
    )
    frames2 = sorted(
        (bytes(r["key"]), bytes(r["value"]), r["topic"]) for r in wire2.collect()
    )
    assert frames1 == frames2


def test_parquet_upsert_sink_refresh_deletes_absent_keys(spark, tmp_path):
    """refresh=True: each batch is the complete table — a group that
    disappears (live count dropped to zero) must not leave a stale row."""
    sink = ParquetUpsertSink(str(tmp_path / "t.parquet"), key_cols=["k"], refresh=True)
    sink(spark.createDataFrame([("a", 2), ("b", 1)], "k string, v long"), 0)
    sink(spark.createDataFrame([("a", 3)], "k string, v long"), 1)  # b emptied
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got == {"a": 3}


def test_build_upsert_sql():
    sql = build_upsert_sql("user_count_by_pgschema", ["pgschema", "user_count"], ["pgschema"])
    assert sql == (
        "INSERT INTO user_count_by_pgschema (pgschema, user_count) VALUES (%s, %s) "
        "ON CONFLICT (pgschema) DO UPDATE SET user_count = EXCLUDED.user_count"
    )


def test_parquet_upsert_sink_merges_by_key(spark, tmp_path):
    sink = ParquetUpsertSink(str(tmp_path / "t.parquet"), key_cols=["k"])
    sink(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"), 0)
    sink(spark.createDataFrame([("b", 9), ("c", 3)], "k string, v long"), 1)
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got == {"a": 1, "b": 9, "c": 3}


def test_parquet_upsert_sink_within_batch_winner_by_seq_cols(spark, tmp_path):
    """A key appearing twice in ONE batch resolves by seq_cols, not by
    arbitrary max_by tie-breaking."""
    sink = ParquetUpsertSink(str(tmp_path / "t.parquet"), key_cols=["k"], seq_cols=["ts"])
    sink(
        spark.createDataFrame(
            [("a", 5, "late"), ("a", 9, "latest"), ("a", 1, "early")],
            "k string, ts long, v string",
        ),
        0,
    )
    [row] = sink.read(spark).collect()
    assert (row["k"], row["ts"], row["v"]) == ("a", 9, "latest")
    # and a later batch with a lower seq still wins (upsert = last batch
    # wins regardless of seq, matching ON CONFLICT DO UPDATE semantics)
    sink(spark.createDataFrame([("a", 2, "newer-batch")], "k string, ts long, v string"), 1)
    [row] = sink.read(spark).collect()
    assert row["v"] == "newer-batch"


def test_parquet_upsert_sink_without_seq_cols_last_occurrence_wins(spark, tmp_path):
    sink = ParquetUpsertSink(str(tmp_path / "t.parquet"), key_cols=["k"])
    df = spark.createDataFrame([("a", 1), ("a", 2), ("a", 3)], "k string, v long").coalesce(1)
    sink(df, 0)
    [row] = sink.read(spark).collect()
    assert row["v"] == 3


def test_delete_stale_sql_is_null_safe():
    """The refresh delete must use row-constructor IS DISTINCT FROM,
    never NOT IN: one NULL in a kept key tuple makes `x NOT IN (...)`
    NULL for every row and the delete silently removes nothing."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks.jdbc_upsert import build_delete_stale_sql

    sql = build_delete_stale_sql("t", ["a", "b"], 2)
    assert "NOT IN" not in sql
    assert sql.count("IS DISTINCT FROM") == 2
    assert sql.count("%s") == 4
    assert build_delete_stale_sql("t", ["a"], 0) == "DELETE FROM t"


def test_delete_unstaged_sql_shape():
    """Above the stage gate the DELETE is CONSTANT-size SQL: a
    NOT EXISTS anti-join against the staged temp table, null-safe via
    row-constructor IS NOT DISTINCT FROM; the CTAS takes the target's
    own key column types off a WHERE FALSE select."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks.jdbc_upsert import (
        STAGE_TABLE,
        build_delete_unstaged_sql,
        build_stage_keys_ddl,
    )

    ddl = build_stage_keys_ddl("t", ["a", "b"])
    assert ddl == (
        f"CREATE TEMP TABLE {STAGE_TABLE} AS SELECT a, b FROM t WHERE FALSE"
    )
    sql = build_delete_unstaged_sql("t", ["a", "b"])
    assert "NOT EXISTS" in sql
    assert "(s.a, s.b) IS NOT DISTINCT FROM (t.a, t.b)" in sql
    # statement size independent of kept-key count — that's the point
    assert "%s" not in sql


def test_parquet_upsert_sink_matches_pure_python_model_property(spark, tmp_path):
    """Model-based property for the K3 parquet sink: random batch
    schedules (merge and refresh modes), foreachBatch RETRIES of the
    same batch id, and sink REOPENS (a fresh object over the same
    store path, the restart shape) must match a pure-Python dict
    replay exactly. The replayed contract, stated by the merge order
    ["_src_rank", *seq_cols, "_row_seq"]: a batch row always beats
    prior state (_src_rank leads), within a batch the highest seq wins,
    and in refresh mode keys absent from the batch are deleted."""
    import uuid as _uuid

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks import ParquetUpsertSink

    # rows: (key, seq, value); (key, seq) unique within a batch so the
    # within-batch winner is deterministic across partition layouts.
    # min_size=0 (since r15): an ALL-EMPTY batch is in the schedule
    # space — refresh mode must empty the whole table and keep the
    # store readable via the empty-bucket manifest markers (the r14
    # falsifying class: a footerless generation crashed every later
    # read); non-refresh mode must be a no-op.
    batch_rows = st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 9)), min_size=0, max_size=5,
        unique_by=lambda t: (t[0], t[1]),
    )
    ops = st.lists(
        st.one_of(
            st.tuples(st.just("batch"), batch_rows),
            st.tuples(st.just("retry"), st.just(None)),
            st.tuples(st.just("reopen"), st.just(None)),
        ),
        min_size=1,
        max_size=5,
    )

    @given(st.booleans(), ops)
    @settings(max_examples=soak_examples(10), deadline=None)
    def check(refresh, schedule):
        path = str(tmp_path / f"sink_{_uuid.uuid4().hex[:8]}")
        sink = ParquetUpsertSink(path, key_cols=["k"], seq_cols=["seq"],
                                 n_buckets=4, refresh=refresh)
        model: dict[int, tuple[int, int]] = {}  # k -> (seq, value)
        batch_id = 0
        last = None

        def apply_model(rows):
            winners: dict[int, tuple[int, int]] = {}
            for k, seq in rows:
                if k not in winners or seq > winners[k][0]:
                    winners[k] = (seq, k * 100 + seq)
            if refresh:
                model.clear()
            for k, (seq, v) in winners.items():
                model[k] = (seq, v)

        def run(rows, bid):
            df = spark.createDataFrame(
                [(k, seq, k * 100 + seq) for k, seq in rows] or None,
                "k long, seq long, v long",
            ) if rows else spark.createDataFrame([], "k long, seq long, v long")
            sink(df, bid)

        for op, arg in schedule:
            if op == "batch":
                batch_id += 1
                run(arg, batch_id)
                apply_model(arg)
                last = arg
            elif op == "retry" and last is not None:
                run(last, batch_id)   # same id, same rows: idempotent
            elif op == "reopen":
                sink = ParquetUpsertSink(path, key_cols=["k"], seq_cols=["seq"],
                                         n_buckets=4, refresh=refresh)
        if not model and batch_id == 0:
            return  # nothing ever committed; read() raises by contract
        try:
            got = {r["k"]: (r["seq"], r["v"]) for r in sink.read(spark).collect()}
        except FileNotFoundError:
            got = {}
        assert got == model, (got, model, refresh)

    check()


def test_parquet_upsert_sink_refresh_empty_batch_reads_as_empty(spark, tmp_path):
    """Regression for the r14 sink-model-property find (fixed r15): a
    refresh-mode batch with ZERO rows — every group deleted, the limit
    case of refresh's own delete contract — used to commit a physically
    empty generation (partitionBy of an empty frame writes no parquet
    footers) and every later read crashed with UNABLE_TO_INFER_SCHEMA.
    The store now records empty-bucket manifest markers (bucket → null)
    plus the committed schema, so the emptied table reads back as a
    typed zero-row DataFrame — and stays writable afterwards."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks import ParquetUpsertSink

    sink = ParquetUpsertSink(str(tmp_path / "s"), key_cols=["k"], refresh=True)
    sink(spark.createDataFrame([(1, 10)], "k long, v long"), 1)
    assert {tuple(r) for r in sink.read(spark).collect()} == {(1, 10)}
    # the table empties: refresh with zero rows must DELETE every key...
    sink(spark.createDataFrame([], "k long, v long"), 2)
    # ...and the emptied table must read back as zero rows, not crash —
    # TYPED zero rows (the committed schema, not an untyped empty)
    empty = sink.read(spark)
    assert empty.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema.fields] == [
        ("k", "bigint"),
        ("v", "bigint"),
    ]
    # the store stays writable after the empty generation: a later
    # refresh re-populates through the marker manifest
    sink(spark.createDataFrame([(2, 20), (3, 30)], "k long, v long"), 3)
    assert {tuple(r) for r in sink.read(spark).collect()} == {(2, 20), (3, 30)}
    # ...and can empty AGAIN (marker path is re-entrant)
    sink(spark.createDataFrame([], "k long, v long"), 4)
    assert sink.read(spark).count() == 0


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _counted_key_frame(spark, tmp_path, n):
    """``n`` rows read from one JSON file, keyed by a Python UDF that
    counts its calls in an accumulator."""
    src = tmp_path / "counted.json"
    src.write_text("\n".join(json.dumps({"id": i, "seq": i}) for i in range(n)) + "\n")
    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def derive_key(i):
        calls.add(1)
        return f"k{i % 7}"

    df = spark.read.schema("id long, seq long").json(str(src))
    return df.withColumn("k", derive_key("id")), calls


def test_parquet_upsert_sink_evaluates_each_input_row_once(spark, tmp_path):
    """A non-refresh call uses its input twice (touched buckets, then
    the merge the commit writes); the shared keyed merge persists it,
    so every expression over the input runs once per row, and the
    cache is empty again when the call returns."""
    n = 40
    df, calls = _counted_key_frame(spark, tmp_path, n)
    spark.catalog.clearCache()
    sink = ParquetUpsertSink(str(tmp_path / "sink"), key_cols=["k"], seq_cols=["seq"])
    sink(df, 0)
    assert calls.value == n
    assert _cache_is_empty(spark)
    got = {r["k"]: r["seq"] for r in sink.read(spark).collect()}
    assert got == {f"k{r}": max(i for i in range(n) if i % 7 == r) for r in range(7)}


def test_parquet_upsert_sink_unpersists_when_commit_fails(spark, tmp_path, monkeypatch):
    """A call whose commit raises still unpersists its input."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.statestore import GenerationalStateStore

    df, _ = _counted_key_frame(spark, tmp_path, 10)
    spark.catalog.clearCache()

    def commit(self, df, touched_buckets, version):
        raise RuntimeError("commit failed")

    monkeypatch.setattr(GenerationalStateStore, "commit", commit)
    sink = ParquetUpsertSink(str(tmp_path / "sink"), key_cols=["k"], seq_cols=["seq"])
    with pytest.raises(RuntimeError, match="commit failed"):
        sink(df, 0)
    assert _cache_is_empty(spark)


@pytest.mark.parametrize("refresh", [False, True])
@pytest.mark.parametrize("internal", ["_src_rank", "_row_seq"])
def test_parquet_upsert_sink_refuses_internal_columns(spark, tmp_path, internal, refresh):
    """The keyed merge adds `_src_rank` and `_row_seq`, then drops them:
    a caller column of either name would silently vanish, so the sink
    refuses it before writing anything."""
    sink = ParquetUpsertSink(str(tmp_path / "sink"), key_cols=["k"], refresh=refresh)
    df = spark.createDataFrame([("a", 1)], f"k string, {internal} long")
    with pytest.raises(ValueError, match=internal):
        sink(df, 0)
    assert not (tmp_path / "sink").exists()


def test_parquet_upsert_sink_promotes_to_full_compaction(spark, tmp_path):
    """Once the sink's store owns max_generations generations, the next
    non-refresh batch rewrites every bucket into one generation, and
    the table still equals a dict model of the batches."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.statestore import (
        GenerationalStateStore,
        bucket_expr,
    )

    n_buckets = 16
    path = str(tmp_path / "sink")
    bucket_of = {
        r["k"]: r["b"]
        for r in spark.range(64)
        .select(F.col("id").alias("k"), bucket_expr(["id"], n_buckets).alias("b"))
        .collect()
    }
    keys, seen = [], set()
    for k, b in sorted(bucket_of.items()):
        if b not in seen:
            seen.add(b)
            keys.append(k)
    sink = ParquetUpsertSink(path, key_cols=["k"], seq_cols=["seq"], n_buckets=n_buckets)

    def store():
        return GenerationalStateStore(spark, path, ["k"], n_buckets=n_buckets)

    model = {}
    for bid, k in enumerate(keys[:8], start=1):
        sink(spark.createDataFrame([(k, bid, f"v{bid}")], "k long, seq long, v string"), bid)
        model[k] = (bid, f"v{bid}")
    assert store().gen_count() == store().max_generations == 8
    # batch 9: an update of the first key and a key in a fresh bucket
    rows = [(keys[0], 9, "updated"), (keys[8], 9, "new")]
    sink(spark.createDataFrame(rows, "k long, seq long, v string"), 9)
    model.update({k: (seq, v) for k, seq, v in rows})
    final = store()
    assert final.gen_count() == 1
    assert len(final._current_manifest()["buckets"]) == n_buckets
    got = {r["k"]: (r["seq"], r["v"]) for r in sink.read(spark).collect()}
    assert got == model
