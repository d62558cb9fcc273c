"""Queries covering the reference's own operator surface (SURVEY.md §2).

The `events` table is treated as a changelog — key=`user_id`,
seq=(`ts`,`event_id`), op derived from `event_type` — per the
FIXTURES.md §C operator↔query map. CDC-envelope queries synthesize a
real Debezium JSON envelope in-query (so `from_json` parsing, struct
navigation, projection and demux are genuinely exercised) and the
DuckDB oracle computes the equivalent relational result directly.

Timestamps are emitted as epoch microseconds (`unix_micros` /
DuckDB `epoch_us`) so value hashes are timezone-independent; double
aggregates are rounded to 3 decimals on both sides to absorb
floating-point summation-order differences.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc import (
    compact_latest,
    count_live_by,
    changelog_diff,
    parse_cdc,
    project_flat,
    resolve_unavailable,
    with_key,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.io import load_table, register_views
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.scale import spread_scan
from experiment_flink_cdc_connectors_postgres_datastream_spark.queries.registry import register
from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks.bus import to_keyed_json

#: users row schema (FIXTURES.md A1: id BIGSERIAL, full_name VARCHAR)
USERS_ROW_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("full_name", StringType())]
)

#: Spark-side users row payload, rendered by synth_cdc_stream and
#: cdc_two_table_join
_USERS_ROW_SQL = "named_struct('id', user_id, 'full_name', props)"

#: shared op-code mapping used by the CDC-synthesis queries and their
#: oracles: click/signup→c, purchase→u, view→r (snapshot), error→d.
_OP_SQL = (
    "CASE WHEN event_type IN ('click','signup') THEN 'c' "
    "WHEN event_type = 'purchase' THEN 'u' "
    "WHEN event_type = 'view' THEN 'r' ELSE 'd' END"
)

#: oracle-side flat CDC stream (the relational equivalent of
#: synth_cdc_stream → parse_cdc → project_flat → with_key).
_FLAT_CDC_SQL = f"""
    SELECT {_OP_SQL} AS op,
           'schema' || CAST(user_id % 4 + 1 AS VARCHAR) AS pgschema,
           'users' AS tbl,
           epoch_ms(ts) AS ts_ms,
           event_id AS lsn,
           user_id AS id,
           props AS full_name
    FROM events
"""


def _op_col() -> F.Column:
    return (
        F.when(F.col("event_type").isin("click", "signup"), F.lit("c"))
        .when(F.col("event_type") == "purchase", F.lit("u"))
        .when(F.col("event_type") == "view", F.lit("r"))
        .otherwise(F.lit("d"))
    )


#: the same op mapping as Spark SQL text (= `_op_col`, = the oracle's
#: `_OP_SQL` — Spark and DuckDB parse this CASE identically)
_OP_CASE = _OP_SQL


def _envelope_sql(row_sql: str, table: str) -> str:
    """The Debezium envelope render as ONE SQL-text expression over an
    `events` row: semantically identical to the previous Column-API
    struct build (same field names/order, same CASE nulls, same
    to_json defaults — value-hash verified against the oracles), but
    parsed JVM-side in a single call. The Column-API form cost ~1,900
    py4j round trips ≈ 0.3-1 s of DRIVER time per plan build
    (cProfile: 1.09 s of socket recv for one `cdc_schema_evolution`
    build), paid on every bench-timed run — the same plan-build trap
    the SimHash/IVF/PQ/minhash signature renderings avoid."""
    return (
        "to_json(named_struct("
        f"'before', CASE WHEN {_OP_CASE} IN ('u','d') THEN {row_sql} END, "
        f"'after', CASE WHEN {_OP_CASE} <> 'd' THEN {row_sql} END, "
        "'source', named_struct("
        "'version', '1.4.0', 'connector', 'postgresql', 'name', 'dbserver1', "
        "'ts_ms', unix_millis(ts), 'db', 'experiment', "
        "'schema', concat('schema', cast(user_id % 4 + 1 as string)), "
        f"'table', '{table}', 'txId', event_id, 'lsn', event_id), "
        f"'op', {_OP_CASE}, "
        "'ts_ms', unix_millis(ts)))"
    )


def synth_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically render `events` rows as Debezium JSON envelopes
    (one string column `value`) — the wire format the reference's
    deserializer consumes (StreamingJobWithCustomDeserializer.java:234).
    """
    # JSON rendering is codec-bound: spread an under-parallel scan so
    # the encode uses every core (no-op at real scale / many splits)
    ev = spread_scan(load_table(spark, sf_dir, "events"))
    return ev.selectExpr(_envelope_sql(_USERS_ROW_SQL, "users") + " AS value")


def _flat_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse → project(users) → key: the S3+T1+T2+T3 chain.

    The lazy localCheckpoint is a deliberate materialization barrier:
    without it Catalyst pushes project_flat's table-dispatch filter
    below the envelope projection and re-evaluates the entire
    to_json→from_json chain a second time per row (the filter's
    `source.table = 'users'` carries its own copy of the JSON
    expression — visible as a duplicated StructsToJsonEvaluator in
    the physical plan). Parsing JSON once and spilling the parsed
    rows is strictly cheaper than parsing twice, here and at 100 TB
    (batch-only helper; the streaming twin `cdc_pipeline_streamed`
    parses post-source, where no such pushdown exists)."""
    parsed = parse_cdc(synth_cdc_stream(spark, sf_dir), USERS_ROW_SCHEMA).localCheckpoint(
        eager=False
    )
    users = project_flat(parsed, "users", ["id", "full_name"])
    return with_key(users, "schema", "id")


# ---------------------------------------------------------------- T1/T2

@register(
    "project_filter",
    "SELECT event_id, user_id, value FROM events WHERE event_type = 'click'",
)
def project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 projection + T2 predicate dispatch (deserializer field
    selection, StreamingJobWithCustomDeserializer.java:247-263)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "value")


# ------------------------------------------------------------------- T3

@register(
    "derived_key",
    "SELECT concat_ws('|', event_type, CAST(user_id AS VARCHAR)) AS key, event_id FROM events",
)
def derived_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 composite upsert key `{schema}|{id}`
    (StreamingJobWithCustomDeserializer.java:284)."""
    ev = load_table(spark, sf_dir, "events")
    return with_key(ev, "event_type", "user_id").select("key", "event_id")


# ------------------------------------------------------------------- T4

@register(
    "union_schemas",
    """
    SELECT 'schema1' AS pgschema, event_id, user_id FROM events WHERE user_id % 2 = 0
    UNION ALL
    SELECT 'schema2' AS pgschema, event_id, user_id FROM events WHERE user_id % 2 = 1
    """,
)
def union_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 union of homogeneous per-pg-schema streams
    (StreamingJob.java:78-79; 'merging tables logically')."""
    ev = load_table(spark, sf_dir, "events")
    s1 = ev.filter(F.col("user_id") % 2 == 0).select(
        F.lit("schema1").alias("pgschema"), "event_id", "user_id"
    )
    s2 = ev.filter(F.col("user_id") % 2 == 1).select(
        F.lit("schema2").alias("pgschema"), "event_id", "user_id"
    )
    return s1.unionByName(s2)


# ------------------------------------------------------------------- T5

@register(
    "keyed_count",
    "SELECT user_id, COUNT(1) AS cnt FROM events GROUP BY user_id",
)
def keyed_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 keyBy → keyed aggregation (StreamingJobWithCustomDeserializer.java:83)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))


# ------------------------------------------------------------------- T6

@register(
    "route_demux",
    """
    SELECT 'clicks' AS branch, event_id, user_id FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT 'signups' AS branch, event_id, user_id FROM events WHERE event_type = 'signup'
    """,
)
def route_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 side-output routing: one stream → N typed branches
    (MyProcessFunction, StreamingJobWithCustomDeserializer.java:204-218).
    Branches re-tagged and unioned so the result is one DataFrame."""
    ev = load_table(spark, sf_dir, "events")
    branches = {"clicks": "click", "signups": "signup"}
    parts = [
        ev.filter(F.col("event_type") == t).select(
            F.lit(name).alias("branch"), "event_id", "user_id"
        )
        for name, t in branches.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------------------------- T7

@register(
    "tokenize",
    """
    SELECT word, COUNT(1) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 flatMap/tokenize word count (Splitter, StreamingJob.java:105-112)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    words = docs.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"))
    return words.filter(F.col("word") != "").groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


# ------------------------------------------------------------------- A3

@register(
    "compact_latest",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value, props
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def compact_latest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 upsert-changelog materialization: latest row per key
    (upsert-pulsar PK semantics, StreamingJobWithCustomDeserializer.java:156-174)."""
    ev = load_table(spark, sf_dir, "events")
    latest = compact_latest(ev, ["user_id"], ["ts", "event_id"])
    return latest.select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_type", "value", "props"
    )


# --------------------------------------------------------------- A1 + A3

@register(
    "count_live_by",
    """
    SELECT event_type, COUNT(1) AS user_count
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    GROUP BY event_type
    """,
)
def count_live_by_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 changelog-correct COUNT: distinct live keys per group — an
    update must not double count (README.md:108-114)."""
    ev = load_table(spark, sf_dir, "events")
    return count_live_by(ev, ["event_type"], ["user_id"], ["ts", "event_id"])


@register(
    "count_live_by_salted",
    """
    SELECT event_type, COUNT(1) AS user_count
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    GROUP BY event_type
    """,
)
def count_live_by_salted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 skew-hardened: the changelog COUNT through the two-phase
    salted aggregation (`operators.scale.salted_agg`), hash-matching
    the UNSALTED oracle — the proof the salt is value-neutral.

    The reference keys this aggregate by pg-schema (SJCD:83) —
    cardinality 2-4, the textbook skewed keyBy: in Flink every change
    for one schema lands on ONE subtask forever. Spark's hash
    aggregate already map-side-combines plain counts, so for COUNT
    alone the salt buys little; the two-phase form is the general
    defense when the per-group partial state is heavy (exact distinct
    sets, collect-style aggregates, high-cardinality sketch merges)
    or when a combiner-less path would funnel a hot group through one
    reducer. Graded here so the swap-in is proven semantics-preserving;
    the plan test pins partial-on-(group, salt) → final-on-(group)."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.scale import salted_agg

    ev = load_table(spark, sf_dir, "events")
    live = compact_latest(ev, ["user_id"], ["ts", "event_id"])
    return salted_agg(live, ["event_type"], {"user_count": ("user_id", "count")})


# ------------------------------------------------------------------- A2

@register(
    "tumbling_window",
    """
    SELECT epoch_us(time_bucket(INTERVAL '5 minutes', ts)) AS window_start_us,
           COUNT(1) AS n_events,
           ROUND(SUM(value), 3) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 keyed tumbling window aggregate (StreamingJob.java:96-98)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 3).alias("total_value"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "n_events", "total_value")
    )


# ------------------------------------------------------------------- A4

@register(
    "changelog_diff",
    """
    WITH latest_b AS (
      SELECT event_type FROM (
        SELECT event_type, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1),
    latest_a AS (
      SELECT event_type FROM (
        SELECT event_type, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1),
    b AS (SELECT event_type, COUNT(1) AS user_count FROM latest_b GROUP BY event_type),
    a AS (SELECT event_type, COUNT(1) AS user_count FROM latest_a GROUP BY event_type)
    SELECT event_type, user_count, 'retract' AS change FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
    UNION ALL
    SELECT event_type, user_count, 'add' AS change FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    """,
)
def changelog_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 retract-stream analog: add/retract rows between two aggregate
    states (toRetractStream, StreamingJobWithCustomDeserializer.java:178-180)."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    state_before = count_live_by(
        ev.filter(F.col("ts") < cutoff), ["event_type"], ["user_id"], ["ts", "event_id"]
    )
    state_after = count_live_by(ev, ["event_type"], ["user_id"], ["ts", "event_id"])
    return changelog_diff(state_before, state_after, ["event_type"])


# ------------------------------------------------------------------- K3

@register(
    "upsert_sink_shape",
    """
    SELECT event_type AS pk, COUNT(1) AS user_count, ROUND(SUM(value), 3) AS total_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    GROUP BY event_type
    """,
)
def upsert_sink_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 JDBC-upsert sink payload: PK-keyed aggregate rows (the
    user_count_by_pgschema table shape, setup_sink_db1.sql:1-4)."""
    ev = load_table(spark, sf_dir, "events")
    latest = compact_latest(ev, ["user_id"], ["ts", "event_id"])
    return latest.groupBy(F.col("event_type").alias("pk")).agg(
        F.count(F.lit(1)).alias("user_count"), F.round(F.sum("value"), 3).alias("total_value")
    )


# ------------------------------------------------------------- S2/S3/T1

@register(
    "cdc_parse_envelope",
    f"""
    WITH src AS ({_FLAT_CDC_SQL})
    SELECT concat_ws('|', pgschema, CAST(id AS VARCHAR)) AS key,
           op, pgschema, tbl, ts_ms, lsn, id, full_name
    FROM src
    """,
)
def cdc_parse_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 custom deserializer: JSON envelope → typed flat event
    (StreamingJobWithCustomDeserializer.java:221-272). The envelope is
    synthesized from `events`, then genuinely parsed with `from_json`
    and struct navigation; the oracle computes the flat result
    relationally."""
    flat = _flat_users(spark, sf_dir)
    return flat.select(
        "key",
        "op",
        F.col("schema").alias("pgschema"),
        F.col("table").alias("tbl"),
        "ts_ms",
        "lsn",
        "id",
        "full_name",
    )


# --------------------------------------------- flagship: S3+T2+T3+A3+A1

@register(
    "cdc_pipeline",
    f"""
    WITH src AS ({_FLAT_CDC_SQL}),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM src) WHERE rn = 1)
    SELECT pgschema, COUNT(1) AS user_count
    FROM latest WHERE op <> 'd'
    GROUP BY pgschema
    """,
)
def cdc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the full reference pipeline in one batch plan —
    envelope parse (S3) → per-table demux (T2/T6) → composite key (T3)
    → latest-per-key compaction (A3, tombstone-aware) → live-key count
    per pg-schema (A1). Reproduces `user_count_by_pgschema`
    (README.md:106-114) at scale."""
    keyed = _flat_users(spark, sf_dir)
    counts = count_live_by(keyed, ["schema"], ["key"], ["ts_ms", "lsn"], op_col="op")
    return counts.select(F.col("schema").alias("pgschema"), "user_count")


@register(
    "cdc_pipeline_streamed",
    f"""
    WITH src AS ({_FLAT_CDC_SQL}),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM src) WHERE rn = 1)
    SELECT pgschema, COUNT(1) AS user_count
    FROM latest WHERE op <> 'd'
    GROUP BY pgschema
    """,
)
def cdc_pipeline_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline run through the STREAMING path — envelopes
    rendered to files, consumed by a file stream, compacted via the
    generational state store (`run_compacted_aggregate`), aggregate
    upserted into a ParquetUpsertSink — then the sink's final table is
    returned. Hash-matching the `cdc_pipeline` batch oracle is the
    stream-batch consistency claim (A3/A1 streamed; the reference's
    continuously-running stage 2,
    StreamingJobWithCustomDeserializer.java:156-194)."""
    import os
    import shutil
    import tempfile

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks import ParquetUpsertSink
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources import read_cdc_file_stream
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import run_compacted_aggregate

    work = tempfile.mkdtemp(prefix="cdc_streamed_")
    try:
        src_dir = os.path.join(work, "src")
        # few-file layout: this exercises semantics, not scan fan-out
        synth_cdc_stream(spark, sf_dir).coalesce(4).write.mode("overwrite").text(src_dir)
        stream = read_cdc_file_stream(spark, src_dir)
        flat = with_key(
            project_flat(parse_cdc(stream, USERS_ROW_SCHEMA), "users", ["id", "full_name"]),
            "schema",
            "id",
        )
        # refresh: the aggregate is recomputed over FULL live state per
        # batch, so absent groups must be deleted, not left stale
        sink = ParquetUpsertSink(os.path.join(work, "sink"), key_cols=["schema"], refresh=True)
        q = run_compacted_aggregate(
            flat,
            state_dir=os.path.join(work, "state"),
            key_cols=["key"],
            seq_cols=["ts_ms", "lsn"],
            group_cols=["schema"],
            op_col="op",
            sink=sink,
            query_name="cdc_pipeline_streamed",
        )
        q.processAllAvailable()
        q.stop()
        # materialize before the workdir is removed; Arrow/pandas path
        # (a Python-list local relation re-evaluates through a Python
        # RDD job on every downstream action)
        pdf = (
            sink.read(spark)
            .select(F.col("schema").alias("pgschema"), "user_count")
            .toPandas()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(pdf, "pgschema string, user_count long")


# ----------------------------------------------------------- SQL (§2.5)

@register(
    "sql_group_count",
    'SELECT "key", COUNT(1) AS cnt FROM (SELECT event_type AS "key" FROM events) GROUP BY "key"',
)
def sql_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 SQL surface: `executeSql` analog with reserved-word
    backquoted identifiers and COUNT(1)+alias
    (StreamingJobWithCustomDeserializer.java:194)."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        "SELECT `key`, COUNT(1) AS cnt FROM (SELECT `event_type` AS `key` FROM events) GROUP BY `key`"
    )


@register(
    "cdc_live_count_stateful",
    f"""
    WITH src AS ({_FLAT_CDC_SQL}),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM src) WHERE rn = 1)
    SELECT pgschema, COUNT(1) AS user_count
    FROM latest WHERE op <> 'd'
    GROUP BY pgschema
    """,
)
def cdc_live_count_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship live count through a CUSTOM STATEFUL OPERATOR
    (`streaming.live_count_with_state`): the
    keyed-state mapping of the reference's KeyedProcessFunction +
    changelog COUNT (SJCD:83,194,204-218), hash-matched against the
    same batch oracle as `cdc_pipeline` — so the driver grades that
    per-group live-key state over the streaming path reproduces the
    relational answer exactly. Groups whose keys are all deleted emit
    count 0 in update mode and are dropped to match the oracle (which
    has no row for them)."""
    import os
    import shutil
    import tempfile

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources import read_cdc_file_stream
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import live_count_with_state

    work = tempfile.mkdtemp(prefix="cdc_stateful_")
    try:
        src_dir = os.path.join(work, "src")
        # one file => availableNow processes everything as one batch;
        # per-batch emission order is irrelevant to the final counts
        # anyway (state replays events in (ts_ms, lsn) order)
        synth_cdc_stream(spark, sf_dir).coalesce(1).write.mode("overwrite").text(src_dir)
        stream = read_cdc_file_stream(spark, src_dir)
        flat = with_key(
            project_flat(parse_cdc(stream, USERS_ROW_SCHEMA), "users", ["id", "full_name"]),
            "schema",
            "id",
        )
        counts = live_count_with_state(
            flat, group_col="schema", key_col="key", seq_cols=("ts_ms", "lsn")
        )
        # foreachBatch so later batches deterministically overwrite
        # earlier emissions per group (batch ids are ordered); the
        # collect is bounded by the group count (4 pg-schemas)
        results: dict[str, int] = {}

        def absorb(bdf: DataFrame, _bid: int) -> None:
            for r in bdf.collect():
                results[r["schema"]] = r["user_count"]

        q = (
            counts.writeStream.foreachBatch(absorb)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .queryName("cdc_live_count_stateful")
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rows = [(g, n) for g, n in sorted(results.items()) if n > 0]
    return spark.createDataFrame(rows, "pgschema string, user_count long")


#: colors-table row schema (the reference's SECOND captured table,
#: user_favorite_colors — setup_source_db1.sql:14-18, dispatch branch
#: SJCD:256-263)
COLORS_ROW_SCHEMA = StructType(
    [StructField("user_id", LongType()), StructField("favorite_color", StringType())]
)

#: oracle-side color derivation — mirror of `_COLORS_ROW_SQL`'s
#: column expression (floor(abs(value)) is exact on doubles, % on the
#: non-negative result agrees across engines)
_COLOR_SQL = (
    "CASE CAST(floor(abs(value)) AS BIGINT) % 4 "
    "WHEN 0 THEN 'red' WHEN 1 THEN 'green' WHEN 2 THEN 'blue' "
    "ELSE 'yellow' END"
)

#: Spark-side colors row payload, its color derived as `_COLOR_SQL`
#: does; rendered by cdc_two_table_join
_COLORS_ROW_SQL = (
    "named_struct('user_id', user_id, 'favorite_color', "
    "element_at(array('red', 'green', 'blue', 'yellow'), "
    "cast(cast(floor(abs(value)) as bigint) % 4 as int) + 1))"
)

_FLAT_COLORS_SQL = f"""
    SELECT {_OP_SQL} AS op,
           'schema' || CAST(user_id % 4 + 1 AS VARCHAR) AS pgschema,
           'user_favorite_colors' AS tbl,
           epoch_ms(ts) AS ts_ms,
           event_id AS lsn,
           user_id,
           {_COLOR_SQL} AS favorite_color
    FROM events
"""


@register(
    "cdc_two_table_join",
    f"""
    WITH u AS ({_FLAT_CDC_SQL}),
    latest_u AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM u) WHERE rn = 1),
    c AS ({_FLAT_COLORS_SQL}),
    latest_c AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, user_id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM c) WHERE rn = 1)
    SELECT lu.pgschema, lc.favorite_color, COUNT(1) AS n_users
    FROM latest_u lu
    JOIN latest_c lc ON lc.pgschema = lu.pgschema AND lc.user_id = lu.id
    WHERE lu.op <> 'd' AND lc.op <> 'd'
    GROUP BY lu.pgschema, lc.favorite_color
    """,
)
def cdc_two_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGELOG-CHANGELOG JOIN across the reference's two captured
    tables (users ⋈ user_favorite_colors — the per-table dispatch
    branches of SJCD:247-264 recombined): each side is independently
    latest-per-key compacted (tombstone-aware), joined on the
    composite (pgschema, user id) key, and aggregated into live users
    per color. This is the materialized-view shape behind any
    "current state of A enriched with current state of B" CDC use —
    two one-shuffle compactions + one equi-join on the same key both
    sides already shuffled on.

    Scan-once surgery (guide §6 / §1.2 step 1): both captured tables
    derive from the SAME `events` history, so the two synth+parse
    chains used to pay the events scan, the spread exchange, the JSON
    render and the from_json parse TWICE — once per side. One pass now
    renders BOTH envelopes (two `_envelope_sql` projections of one
    row), parses both, and lands behind ONE lazy localCheckpoint; each
    join side projects its own envelope struct out of the shared
    checkpointed rows. Same per-side values bit-for-bit (identical
    render/parse expressions — only their common subtree is shared),
    verified against the unchanged oracle."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc.envelope import envelope_schema

    ev = spread_scan(load_table(spark, sf_dir, "events"))
    wire2 = ev.selectExpr(
        _envelope_sql(_USERS_ROW_SQL, "users") + " AS u_value",
        _envelope_sql(_COLORS_ROW_SQL, "user_favorite_colors") + " AS c_value",
    )
    parsed2 = wire2.select(
        F.from_json("u_value", envelope_schema(USERS_ROW_SCHEMA)).alias("_u"),
        F.from_json("c_value", envelope_schema(COLORS_ROW_SCHEMA)).alias("_c"),
    ).localCheckpoint(eager=False)

    def _side(env: str) -> DataFrame:
        return parsed2.select(
            F.col(f"{env}.before").alias("before"),
            F.col(f"{env}.after").alias("after"),
            F.col(f"{env}.source").alias("source"),
            F.col(f"{env}.op").alias("op"),
            F.col(f"{env}.ts_ms").alias("ts_ms"),
            F.col(f"{env}.unavailable").alias("unavailable"),
        )

    users = project_flat(_side("_u"), "users", ["id", "full_name"])
    latest_u = compact_latest(
        users, ["schema", "id"], ["ts_ms", "lsn"], op_col="op"
    )
    colors = project_flat(_side("_c"), "user_favorite_colors", ["user_id", "favorite_color"])
    latest_c = compact_latest(
        colors, ["schema", "user_id"], ["ts_ms", "lsn"], op_col="op"
    )
    return (
        latest_u.alias("u")
        .join(
            latest_c.alias("c"),
            (F.col("u.schema") == F.col("c.schema")) & (F.col("u.id") == F.col("c.user_id")),
        )
        .groupBy(F.col("u.schema").alias("pgschema"), F.col("c.favorite_color"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --------------------------------------------------- A1 generalized

#: shared oracle for the multi-aggregate changelog queries: the live
#: state (latest row per user_id, tombstone latest-op='d' i.e.
#: event_type='error' dropped) aggregated with the full SUM/AVG/MIN/
#: MAX family, not just COUNT.
_AGG_MULTI_SQL = """
    WITH latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1)
    SELECT event_type,
           COUNT(1) AS user_count,
           ROUND(SUM(value), 3) AS total_value,
           ROUND(AVG(value), 3) AS avg_value,
           ROUND(MIN(value), 3) AS min_value,
           ROUND(MAX(value), 3) AS max_value
    FROM latest
    WHERE event_type <> 'error'
    GROUP BY event_type
"""

#: the aggregate family both twins evaluate over live state
def _multi_aggs() -> list[F.Column]:
    return [
        F.count(F.lit(1)).alias("user_count"),
        F.round(F.sum("value"), 3).alias("total_value"),
        F.round(F.avg("value"), 3).alias("avg_value"),
        F.round(F.min("value"), 3).alias("min_value"),
        F.round(F.max("value"), 3).alias("max_value"),
    ]


@register("changelog_agg_multi", _AGG_MULTI_SQL)
def changelog_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 GENERALIZED: changelog-correct SUM/AVG/MIN/MAX/COUNT in one
    pass over the live upsert state. The reference's aggregate is
    COUNT(1)-only (StreamingJobWithCustomDeserializer.java:194); a
    Flink upsert table gives any aggregate these retraction semantics
    for free, so the engine must too — group membership AND the
    aggregated value of a key both follow its LATEST row only.
    Physical shape: two hash aggregations (max_by compaction keyed by
    user, multi-agg keyed by group), no window sort."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc import agg_live_by

    ev = load_table(spark, sf_dir, "events").withColumn("op", _op_col())
    return agg_live_by(
        ev, ["event_type"], ["user_id"], ["ts", "event_id"], _multi_aggs(), op_col="op"
    )


@register("changelog_agg_multi_streamed", _AGG_MULTI_SQL)
def changelog_agg_multi_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`changelog_agg_multi` run through the STREAMING path: events
    replayed from parquet into a file stream, merged into the
    generational state store per micro-batch, the SUM/AVG/MIN/MAX
    family recomputed over live state and upserted into a
    ParquetUpsertSink keyed by the group column. Hash-matching the
    batch oracle is the stream-batch consistency claim for
    multi-aggregate maintenance (A1/A3 streamed)."""
    import os
    import shutil
    import tempfile

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks import ParquetUpsertSink
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import run_compacted_aggregate

    work = tempfile.mkdtemp(prefix="agg_multi_streamed_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = os.path.join(work, "src")
        ev.coalesce(4).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double"
            )
            .parquet(src)
            .withColumn("op", _op_col())
        )
        sink = ParquetUpsertSink(
            os.path.join(work, "sink"), key_cols=["event_type"], refresh=True
        )
        q = run_compacted_aggregate(
            stream,
            state_dir=os.path.join(work, "state"),
            key_cols=["user_id"],
            seq_cols=["ts", "event_id"],
            group_cols=["event_type"],
            op_col="op",
            agg_exprs=_multi_aggs(),
            sink=sink,
            query_name="changelog_agg_multi_streamed",
        )
        q.processAllAvailable()
        q.stop()
        pdf = (
            sink.read(spark)
            .select(
                "event_type", "user_count", "total_value", "avg_value", "min_value", "max_value"
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        pdf,
        "event_type string, user_count long, total_value double, avg_value double, "
        "min_value double, max_value double",
    )


@register(
    "changelog_topk_per_group",
    """
    WITH latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1)
    SELECT event_type, user_id, value, rank_in_group
    FROM (SELECT event_type, user_id, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, user_id) AS rank_in_group
          FROM latest WHERE event_type <> 'error')
    WHERE rank_in_group <= 3
    """,
)
def changelog_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog-correct TOP-K maintenance: the top-3 live keys by
    value within each group, where both group membership and the
    ranked value follow each key's LATEST row (an update that lowers
    a key's value can demote it out of the top-k — the retraction case
    a naive streaming top-k gets wrong). Physical shape: one max_by
    compaction shuffle over LIVE KEYS ONLY (the rank input is already
    one row per key — never the raw changelog), then TWO-PHASE
    top-k: rank within deterministic (group, salt) slices first, then
    rank the salt×k survivors per group — groups are few and huge
    (per-pg-schema in the reference), so a single per-group window
    would serialize each group through one task. The unchanged
    single-window oracle grades the equivalence (the global per-group
    top-k is contained in the union of slice top-ks)."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.scale import two_phase_topk

    ev = load_table(spark, sf_dir, "events").withColumn("op", _op_col())
    live = compact_latest(ev, ["user_id"], ["ts", "event_id"], op_col="op")
    return two_phase_topk(
        live.select("event_type", "user_id", "value"),
        ["event_type"],
        [F.desc("value"), F.asc("user_id")],
        k=3,
        salt_col=F.xxhash64("user_id"),
        rank_alias="rank_in_group",
    )


@register(
    "bus_wire_frames",
    f"""
    WITH src AS ({_FLAT_CDC_SQL}),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM (SELECT *, pgschema || '|' || CAST(id AS VARCHAR) AS key FROM src))
      WHERE rn = 1),
    live AS (
      SELECT * FROM latest WHERE op <> 'd' AND full_name IS NOT NULL)
    SELECT key AS key_str,
           CAST(to_json(struct_pack(
               key := key, op := op, "schema" := pgschema,
               "table" := tbl, full_name := full_name, id := id
           )) AS VARCHAR) AS value_json,
           'users' AS topic
    FROM live
    """,
)
def bus_wire_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 WIRE FORMAT, value-hash graded: the exact bytes the keyed
    JSON bus sink puts on the wire — message key (upsert key string)
    and JSON value — for the compacted live state of the flagship
    pipeline. The reference publishes precisely these frames to its
    per-table Pulsar topic (SJCD:93-118; the README.md:76-86 consumer
    dump shows the same key/value shape). Spark's `to_json` and
    DuckDB's `to_json(struct_pack(...))` render byte-identical compact
    JSON for non-null fields (field order = struct order; nulls are
    filtered, matching to_json's omit-nulls vs DuckDB's explicit-null
    divergence — the one rendering difference between the engines).

    Complements the hypothesis round-trip property test (K2↔S4 law):
    that pins re-serialization identity, this pins the ABSOLUTE bytes
    against an independent engine.

    Scale shape: one compaction shuffle, then a narrow codegen'd JSON
    render — the same plan as `compact_latest` plus a map."""
    keyed = _flat_users(spark, sf_dir)
    live = compact_latest(
        keyed, ["key"], ["ts_ms", "lsn"], op_col="op"
    ).filter(F.col("full_name").isNotNull())
    frames = to_keyed_json(
        live,
        key_col="key",
        topic="users",
        value_cols=["key", "op", "schema", "table", "full_name", "id"],
    )
    return frames.select(
        F.col("key").cast("string").alias("key_str"),
        F.col("value").cast("string").alias("value_json"),
        "topic",
    )


@register(
    "bus_roundtrip_pipeline",
    f"""
    WITH src AS ({_FLAT_CDC_SQL}),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM src) WHERE rn = 1)
    SELECT pgschema, COUNT(1) AS user_count
    FROM latest WHERE op <> 'd'
    GROUP BY pgschema
    """,
)
def bus_roundtrip_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL bus hop, value-graded: typed events →
    keyed-JSON wire frames (K2, the stage-1 Pulsar publish) → parsed
    back off the bus (S4, the stage-2 `upsert-pulsar` source) →
    compacted upsert view (A3) → live count per pg-schema (A1). The
    oracle is the DIRECT pipeline's answer, so the serialize→parse
    round trip is proven value-neutral under the driver hash — the
    wire hop between the reference's two jobs (SJCD:93-118 publish,
    156-174 consume) cannot drop, duplicate, or retype anything.

    Scale shape: adds two narrow codegen'd maps (to_json / from_json)
    to the `cdc_pipeline` plan — same single compaction shuffle."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc.changelog import count_live_by
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.bus_upsert import changelog_from_bus

    flat = _flat_users(spark, sf_dir)
    value_schema = _users_value_schema()
    wire = to_keyed_json(
        flat,
        key_col="key",
        topic="users",
        value_cols=[f.name for f in value_schema.fields],
    )
    back = changelog_from_bus(wire, value_schema)
    counts = count_live_by(back, ["schema"], ["key"], ["ts_ms", "lsn"], op_col="op")
    return counts.select(F.col("schema").alias("pgschema"), "user_count")


def _users_value_schema() -> StructType:
    return StructType(
        [
            StructField("op", StringType()),
            StructField("schema", StringType()),
            StructField("table", StringType()),
            StructField("ts_ms", LongType()),
            StructField("lsn", LongType()),
            StructField("id", LongType()),
            StructField("full_name", StringType()),
        ]
    )


@register(
    "bus_roundtrip_streamed",
    f"""
    WITH src AS ({_FLAT_CDC_SQL}),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM src) WHERE rn = 1)
    SELECT pgschema, COUNT(1) AS user_count
    FROM latest WHERE op <> 'd'
    GROUP BY pgschema
    """,
)
def bus_roundtrip_streamed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bus hop through the ENGINE'S SOURCE API (the round-5 gap:
    `bus_roundtrip_pipeline` grades the serialize→parse round trip,
    but the upsert table was fed by test plumbing): stage 1 publishes
    keyed-JSON wire frames into the spool (K2), stage 2 consumes them
    via `spark.readStream.format("bus_upsert")` — offsets planned by
    the driver, frame files read by executors, exactly the
    postgres_cdc source shape — into the generational-state compacted
    aggregate (S4→A3→A1) and a refresh-mode upsert sink. Two separate
    publishes with processAllAvailable between them force TWO planned
    micro-batches, so incremental offset planning and the second
    batch's state merge are both on the graded path. Hash-matching
    the direct pipeline's oracle proves the source hop delivers every
    frame exactly once, in replayable spans."""
    import os
    import shutil
    import tempfile

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks import ParquetUpsertSink
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.bus_upsert import (
        changelog_from_bus,
        register_bus_source,
        spool_frames,
    )
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import run_compacted_aggregate

    value_schema = _users_value_schema()
    flat = _flat_users(spark, sf_dir)
    wire = to_keyed_json(
        flat, key_col="key", topic="users", value_cols=[f.name for f in value_schema.fields]
    )
    work = tempfile.mkdtemp(prefix="bus_streamed_")
    try:
        spool = os.path.join(work, "spool")
        # stage 1, publish #0: the even-id half of the topic
        spool_frames(wire.filter(F.col("id") % 2 == 0).coalesce(2), spool, seq=0)

        register_bus_source(spark)
        frames = spark.readStream.format("bus_upsert").option("path", spool).load()
        back = changelog_from_bus(frames, value_schema)
        sink = ParquetUpsertSink(os.path.join(work, "sink"), key_cols=["schema"], refresh=True)
        q = run_compacted_aggregate(
            back,
            state_dir=os.path.join(work, "state"),
            key_cols=["key"],
            seq_cols=["ts_ms", "lsn"],
            group_cols=["schema"],
            op_col="op",
            sink=sink,
            query_name="bus_roundtrip_streamed",
        )
        q.processAllAvailable()
        # publish #1 while the query runs: the tail of the topic
        spool_frames(wire.filter(F.col("id") % 2 == 1).coalesce(2), spool, seq=1)
        q.processAllAvailable()
        q.stop()
        pdf = (
            sink.read(spark)
            .select(F.col("schema").alias("pgschema"), "user_count")
            .toPandas()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(pdf, "pgschema string, user_count long")


# ------------------------------------------------------------------- A3/A4

@register(
    "cdc_scd2_history",
    """
    SELECT user_id, event_id, event_type, value,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w) AS valid_to_us,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def cdc_scd2_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 materialization of the changelog: one versioned row
    per change event with validity interval [ts, next ts) and a
    current flag — the history-preserving warehouse consumer of the
    reference's CDC feed (vs `compact_latest`, which keeps only the
    live row; StreamingJobWithCustomDeserializer.java:156-174). One
    key-partitioned window (shuffle on user_id + per-key sort)."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc.changelog import scd2_history

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(ev, ["user_id"], ["ts", "event_id"])
    return hist.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
        "is_current",
    )


@register(
    "scd2_as_of_state",
    """
    WITH hist AS (
      SELECT user_id, event_id, event_type, value, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM events)
    SELECT user_id, event_id, event_type, value
    FROM hist
    WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
    """,
)
def scd2_as_of_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 history: the table state AS OF a
    fixed instant, reconstructed by interval containment — and
    provably identical to compacting the changelog prefix ts <= T
    (the law is pinned by test_scd2_as_of_equals_prefix_compaction).
    Same single key-partitioned window as `cdc_scd2_history`; the
    containment filter is a narrow post-window predicate."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc.changelog import scd2_history

    t = F.lit("2024-01-15 00:00:00").cast("timestamp")
    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(ev, ["user_id"], ["ts", "event_id"])
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "event_id", "event_type", "value")


@register(
    "cdc_scd2_streamed",
    """
    SELECT user_id, event_id, event_type, value,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w) AS valid_to_us,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def cdc_scd2_streamed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 maintained INCREMENTALLY over a stream: each micro-batch
    upserts only the AFFECTED keys' histories (pull that key's stored
    rows, merge the new events, recompute its intervals, upsert by
    (user_id, event_id)) — per-batch work is bounded by the touched
    keys' history, never the table. The source is deliberately split
    by ``event_id % 3`` into one file per micro-batch, so events
    arrive OUT OF TIME ORDER across batches and rows are re-keyed —
    a later batch must reopen and re-close intervals the earlier
    batch finalized (``valid_to``/``is_current`` overwritten through
    the upsert). Hash-matching the batch `cdc_scd2_history` oracle is
    the claim that out-of-order incremental maintenance converges to
    the batch-recomputed history exactly."""
    import os
    import shutil
    import tempfile

    from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc.changelog import scd2_history
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks import ParquetUpsertSink

    work = tempfile.mkdtemp(prefix="scd2_streamed_")
    raw_cols = ["user_id", "event_id", "ts", "event_type", "value"]
    try:
        ev = load_table(spark, sf_dir, "events").select(*raw_cols)
        src = os.path.join(work, "src")
        # one file per residue class: micro-batches interleave in time
        for r in range(3):
            ev.filter(F.col("event_id") % 3 == r).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        # bucket by user_id (a PREFIX of the upsert key): all of a
        # user's events co-locate, so the affected-keys read below is
        # a partition-pruned scan of just the touched buckets — the
        # shape that keeps per-batch I/O bounded at 100 TB
        sink = ParquetUpsertSink(
            os.path.join(work, "sink"),
            key_cols=["user_id", "event_id"],
            bucket_cols=["user_id"],
        )

        def maintain(batch_df, batch_id: int) -> None:
            sp = batch_df.sparkSession
            batch = batch_df.dropDuplicates(["user_id", "event_id"])
            affected = batch.select("user_id").distinct()
            # manifest-honored bucket assignment; bounded <= n_buckets
            touched = sink.touched_buckets(affected)
            try:
                prev = sink.read(sp, buckets=touched)
            except FileNotFoundError:  # first batch: nothing committed yet
                prev = None
            merged = batch
            if prev is not None and prev.columns:
                prior = prev.join(affected, "user_id").select(*raw_cols)
                merged = prior.unionByName(batch).dropDuplicates(
                    ["user_id", "event_id"]
                )
            hist = scd2_history(merged, ["user_id"], ["ts", "event_id"])
            sink(hist, batch_id)

        schema = "user_id long, event_id long, ts timestamp, event_type string, value double"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(maintain)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .queryName("cdc_scd2_streamed")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        pdf = (
            sink.read(spark)
            .select(
                "user_id",
                "event_id",
                "event_type",
                "value",
                F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
                F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
                "is_current",
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        pdf,
        "user_id long, event_id long, event_type string, value double, "
        "valid_from_us long, valid_to_us long, is_current boolean",
    )


@register(
    "bus_table_compact",
    f"""
    WITH src AS ({_FLAT_CDC_SQL}),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM src) WHERE rn = 1)
    SELECT pgschema, COUNT(1) AS user_count
    FROM latest WHERE op <> 'd'
    GROUP BY pgschema
    """,
)
def bus_table_compact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bus topic AS A SQL TABLE, graded: wire frames spooled (K2),
    the spool registered under a SQL name (`register_bus_table` — the
    reference's `executeSql` upsert-pulsar table, SJCD:156-174), read
    back through the BATCH half of the `bus_upsert` DataSource
    (`spark.table(name)` → one input partition per spool file), then
    parsed → compacted → counted. Hash-matching the direct pipeline's
    oracle proves the batch-read table surface delivers every frame
    exactly once — the streamed twin (`bus_roundtrip_streamed`)
    grades the same spool through readStream; together the two halves
    of the source API are both on the value-hashed path."""
    import os
    import shutil
    import tempfile
    import uuid

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.bus_upsert import (
        changelog_from_bus,
        register_bus_table,
        spool_frames,
    )

    value_schema = _users_value_schema()
    wire = to_keyed_json(
        _flat_users(spark, sf_dir),
        key_col="key",
        topic="users",
        value_cols=[f.name for f in value_schema.fields],
    )
    work = tempfile.mkdtemp(prefix="bus_table_")
    name = f"bus_topic_{uuid.uuid4().hex[:8]}"
    try:
        spool = os.path.join(work, "spool")
        spool_frames(wire.coalesce(4), spool, seq=0)
        register_bus_table(spark, name, spool)
        back = changelog_from_bus(spark.table(name), value_schema)
        counts = count_live_by(back, ["schema"], ["key"], ["ts_ms", "lsn"], op_col="op")
        pdf = counts.select(F.col("schema").alias("pgschema"), "user_count").toPandas()
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(pdf, "pgschema string, user_count long")


# ------------------------------------------------------- S3 + A3 drift

@register(
    "cdc_schema_evolution",
    f"""
    WITH src AS (
      SELECT {_OP_SQL} AS op,
             'schema' || CAST(user_id % 4 + 1 AS VARCHAR) AS pgschema,
             epoch_ms(ts) AS ts_ms,
             event_id AS lsn,
             user_id AS id,
             CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                  THEN 'user' || CAST(user_id AS VARCHAR) || '@example.com'
             END AS email
      FROM events),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM src) WHERE rn = 1)
    SELECT pgschema,
           CAST(COUNT(1) AS BIGINT) AS live_users,
           CAST(SUM(CASE WHEN email IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS with_email,
           CAST(SUM(CASE WHEN email IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS pre_ddl_only,
           CAST(COALESCE(SUM(length(email)), 0) AS BIGINT) AS email_chars
    FROM latest WHERE op <> 'd'
    GROUP BY pgschema
    """,
)
def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+A3 under schema drift: the source table gains a column
    (ALTER TABLE users ADD COLUMN email) mid-stream, and the consumer
    parses the WHOLE feed — pre- and post-DDL envelopes — with the
    widened schema.

    The wire bytes are honest about the drift: pre-DDL envelopes are
    rendered with `to_json` whose default ignoreNullFields drops the
    null `email` from the struct, so early records genuinely LACK the
    key (exactly what Debezium emits before the DDL,
    StreamingJobWithCustomDeserializer.java:234 consumes the same
    evolving SourceRecord stream; the live suite drives a real ALTER
    TABLE through the connector — this query puts the same contract
    under the driver's value hash). `from_json` backfills the missing
    field as NULL — never an error, never a dropped record — and
    compaction across the DDL boundary then proves the merge: a key
    updated after the DDL carries its email; a key never touched
    after it stays NULL in the live table (`pre_ddl_only`). Grading
    counts both populations per pg-schema plus an exact email-length
    checksum.

    Scale shape: identical to `cdc_pipeline` — parse once behind a
    lazy localCheckpoint (the `_flat_users` double-parse pushdown
    note), one compaction shuffle on the upsert key, then a tiny
    per-schema aggregate. Schema widening itself is free at 100 TB:
    it is a parse-schema change, not a rewrite of anything."""
    ev = spread_scan(load_table(spark, sf_dir, "events"))
    # post-DDL rows gain the email column; pre-DDL rows hold a CASE
    # null that to_json's default ignoreNullFields then OMITS from the
    # wire — envelope rendered as SQL text (see `_envelope_sql`)
    email_sql = (
        "CASE WHEN ts >= cast('2024-01-15 00:00:00' as timestamp) "
        "THEN concat('user', cast(user_id as string), '@example.com') END"
    )
    wire = ev.selectExpr(
        _envelope_sql(
            f"named_struct('id', user_id, 'full_name', props, 'email', {email_sql})",
            "users",
        )
        + " AS value"
    )
    evolved_schema = StructType(
        [
            StructField("id", LongType()),
            StructField("full_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    parsed = parse_cdc(wire, evolved_schema).localCheckpoint(eager=False)
    flat = with_key(project_flat(parsed, "users", ["id", "full_name", "email"]), "schema", "id")
    latest = compact_latest(flat, ["key"], ["ts_ms", "lsn"])
    live = latest.filter(F.col("op") != "d")
    return live.groupBy(F.col("schema").alias("pgschema")).agg(
        F.count(F.lit(1)).alias("live_users"),
        F.sum(F.when(F.col("email").isNotNull(), 1).otherwise(0)).cast("bigint").alias("with_email"),
        F.sum(F.when(F.col("email").isNull(), 1).otherwise(0)).cast("bigint").alias("pre_ddl_only"),
        F.coalesce(F.sum(F.length("email")), F.lit(0)).cast("bigint").alias("email_chars"),
    )


# ------------------------------------------------------ A3 TOAST resolve

#: shared oracle for the TOAST-resolution pipeline and its streamed
#: twin: reconstruct the synthesized per-document change history
#: relationally, replay the carry-forward with a window (the struct
#: wrap keeps a REAL null distinguishable from "unavailable", exactly
#: like resolve_unavailable's 1-field struct), then latest-per-key.
_TOAST_PIPELINE_ORACLE = """
    WITH ev AS (
      SELECT doc_id AS id, doc_id * 10 + 1 AS lsn, 'c' AS op,
             lang, text AS body, FALSE AS marked
      FROM documents
      UNION ALL
      SELECT doc_id, doc_id * 10 + 2, 'u', lang || ' v2',
             CASE WHEN doc_id % 4 = 2
                  THEN 'rewritten-' || CAST(doc_id AS VARCHAR) END,
             doc_id % 4 IN (0, 3)
      FROM documents
      UNION ALL
      SELECT doc_id, doc_id * 10 + 3, 'u', lang || ' v3',
             NULL, TRUE
      FROM documents WHERE doc_id % 4 IN (0, 1)
      UNION ALL
      SELECT doc_id, doc_id * 10 + 3, 'd', NULL, NULL, FALSE
      FROM documents WHERE doc_id % 4 = 3
    ),
    resolved AS (
      SELECT id, lsn, op, lang,
             CASE WHEN marked THEN
               (LAST_VALUE(CASE WHEN NOT marked AND op <> 'd'
                                THEN {'v': body} END IGNORE NULLS)
                  OVER (PARTITION BY id ORDER BY lsn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).v
             ELSE body END AS body
      FROM ev),
    latest AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
        FROM resolved) WHERE rn = 1)
    SELECT CAST(id AS BIGINT) AS id, lang, body
    FROM latest WHERE op <> 'd'
"""


def _toast_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render the synthesized TOAST change history as Debezium JSON.

    Per document key (group g = doc_id % 4; `text` plays the
    out-of-line column, `lang` the small always-shipped one):
    insert with the full body, then — g0: two updates both marking
    `body` TOAST-unavailable (double carry); g1: a REAL NULL
    overwrite then a marked update (the carry must preserve the real
    NULL, not resurrect the insert's value); g2: an ordinary rewrite;
    g3: a marked update then a delete tombstone. `to_json`'s
    ignoreNullFields keeps the wire honest: a marked column is ABSENT
    from the after image, exactly like pgoutput's 'u' tuple kind
    (pgoutput.py:171-185), with the envelope's `unavailable` list the
    only trace — the same shape the live suite sees from a real 8 KB
    STORAGE EXTERNAL value (test_postgres_cdc_live.py).

    Whole feed + envelope rendered as SQL text (the `_envelope_sql`
    plan-build trap: the previous Column-API struct builds cost a
    py4j round trip per field per event variant on every timed plan
    build; semantics byte-identical — same field names/order, same
    CASE nulls, same to_json defaults — oracle re-proved incl. the
    streamed twin)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))

    def event(lsn_sql: str, op_sql: str, lang_sql: str, body_sql: str, marked_sql: str) -> str:
        return (
            f"named_struct('lsn', cast({lsn_sql} as bigint), 'op', {op_sql}, "
            f"'lang', {lang_sql}, 'body', {body_sql}, 'marked', {marked_sql})"
        )

    e1 = event("doc_id * 10 + 1", "'c'", "lang", "text", "false")
    e2 = event(
        "doc_id * 10 + 2",
        "'u'",
        "concat(lang, ' v2')",
        "CASE WHEN doc_id % 4 = 2 THEN concat('rewritten-', cast(doc_id as string)) END",
        "doc_id % 4 IN (0, 3)",
    )
    e3u = event(
        "doc_id * 10 + 3", "'u'", "concat(lang, ' v3')", "cast(null as string)", "true"
    )
    e3d = event(
        "doc_id * 10 + 3", "'d'", "cast(null as string)", "cast(null as string)", "false"
    )
    ev = docs.selectExpr(
        "doc_id AS id",
        f"explode(array({e1}, {e2}, "
        f"CASE WHEN doc_id % 4 IN (0, 1) THEN {e3u} "
        f"WHEN doc_id % 4 = 3 THEN {e3d} END)) AS e",
    ).filter("e IS NOT NULL")

    row_sql = "named_struct('id', id, 'lang', e.lang, 'body', e.body)"
    ts_sql = "cast(1700000000000 + e.lsn as bigint)"
    env_sql = (
        "named_struct("
        f"'before', CASE WHEN e.op IN ('u', 'd') THEN {row_sql} END, "
        f"'after', CASE WHEN e.op <> 'd' THEN {row_sql} END, "
        "'source', named_struct("
        "'version', '1.4.0', 'connector', 'postgresql', 'name', 'dbserver1', "
        f"'ts_ms', {ts_sql}, 'db', 'experiment', 'schema', 'public', "
        "'table', 'documents', 'txId', e.lsn, 'lsn', e.lsn), "
        "'op', e.op, "
        f"'ts_ms', {ts_sql}, "
        "'unavailable', CASE WHEN e.marked THEN array('body') END)"
    )
    return ev.selectExpr("e.lsn AS _lsn", f"to_json({env_sql}) AS value")


#: TOAST-able documents row (body plays the out-of-line column)
_TOAST_ROW_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("lang", StringType()),
        StructField("body", StringType()),
    ]
)


@register("cdc_toast_pipeline", _TOAST_PIPELINE_ORACLE)
def cdc_toast_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 under the TOAST trap, value-graded per key (VERDICT r9 #1):
    parse a feed whose TOAST-able column goes unavailable mid-history
    (pgoutput omits unchanged out-of-line values — the 'u' tuple
    kind, pgoutput.py:171-185; the reference's REPLICA IDENTITY FULL
    tables with VARCHAR columns, setup_source_db1.sql:11,17, are
    exactly this shape), resolve the markers with the last-available
    carry (`cdc.changelog.resolve_unavailable`), compact to the live
    table, and hash-match every key's resolved (lang, body)
    against a DuckDB window-function replay.

    Covers all four semantics in one grade: double-marked carry (g0),
    a REAL NULL surviving a later marked update (g1 — the reason the
    carry is a 1-field struct, not last(ignorenulls) on the bare
    column), ordinary rewrites untouched (g2), and tombstones
    dropping marked keys (g3).

    Scale shape: parse once behind a lazy localCheckpoint (the
    `_flat_users` double-parse note), then ONE exchange on the key —
    the resolution window partitions by id and the compaction reuses
    that partitioning (plan-tested shape, `resolve_unavailable`
    docstring)."""
    wire = _toast_wire(spark, sf_dir).select("value")
    parsed = parse_cdc(wire, _TOAST_ROW_SCHEMA).localCheckpoint(eager=False)
    flat = project_flat(
        parsed, "documents", ["id", "lang", "body"], keep_unavailable=True
    )
    resolved = resolve_unavailable(
        flat, ["id"], ["ts_ms", "lsn"], ["lang", "body"], op_col="op"
    )
    latest = compact_latest(resolved, ["id"], ["ts_ms", "lsn"], op_col="op")
    return latest.select(F.col("id").cast("bigint").alias("id"), "lang", "body")


@register("cdc_toast_pipeline_streamed", _TOAST_PIPELINE_ORACLE)
def cdc_toast_pipeline_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOAST pipeline through the STREAMING stateful backend: the
    same wire feed split into three mtime-ordered files consumed one
    per micro-batch (maxFilesPerTrigger=1), so every marked update
    arrives in a LATER batch than the value it must resolve from —
    the carry is served by `run_compacted_aggregate`'s committed
    state (resolve-in-merge over state ∪ batch, with the state-first
    `_src_rank` tiebreak), not by intra-batch history. The
    materialized generational state table is the result; matching
    the SAME per-key oracle as the batch twin is the stream-batch
    consistency claim for TOAST resolution."""
    import os
    import shutil
    import tempfile

    from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc.changelog import DELETE_OP
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources import read_cdc_file_stream
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import run_compacted_aggregate
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.statestore import GenerationalStateStore

    wire = _toast_wire(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="cdc_toast_streamed_")
    try:
        src_dir = os.path.join(work, "src")
        os.makedirs(src_dir)
        # one file per history step, mtime-ordered so the file source
        # serves them as three successive micro-batches (distinct
        # mtimes are load-bearing: equal mtimes make batch order
        # nondeterministic)
        now = 1_700_000_000
        for step in (1, 2, 3):
            step_dir = os.path.join(work, f"w{step}")
            wire.filter(F.col("_lsn") % 10 == step).select("value").coalesce(
                1
            ).write.mode("overwrite").text(step_dir)
            part = next(
                p for p in os.listdir(step_dir) if p.startswith("part-")
            )
            dst = os.path.join(src_dir, f"batch{step}.txt")
            shutil.move(os.path.join(step_dir, part), dst)
            os.utime(dst, (now + step * 60, now + step * 60))
        stream = read_cdc_file_stream(spark, src_dir, max_files_per_trigger=1)
        parsed = parse_cdc(stream, _TOAST_ROW_SCHEMA)
        flat = project_flat(
            parsed, "documents", ["id", "lang", "body"], keep_unavailable=True
        )
        q = run_compacted_aggregate(
            flat,
            state_dir=os.path.join(work, "state"),
            key_cols=["id"],
            seq_cols=["ts_ms", "lsn"],
            group_cols=["id"],
            op_col="op",
            query_name="cdc_toast_pipeline_streamed",
            unavailable_col="unavailable",
        )
        q.processAllAvailable()
        q.stop()
        store = GenerationalStateStore(spark, os.path.join(work, "state", "state"), ["id"])
        live = store.read().filter(~F.col("op").eqNullSafe(F.lit(DELETE_OP)))
        pdf = live.select(
            F.col("id").cast("bigint").alias("id"), "lang", "body"
        ).toPandas()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(pdf, "id bigint, lang string, body string")


# ------------------------------------------------- A5 event-time state TTL

#: the TTL pipeline's event-time horizon (same unit as ts_ms)
_TTL_HORIZON = 30_000

#: customers_ttl row schema (id plays the key, val the carried value)
_TTL_ROW_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("val", StringType())]
)


def _ttl_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render a three-batch change history designed to make every
    event-time-TTL behavior value-observable (group g = c_custkey % 4):

    - batch 1 (ts T0):      INSERT for every key, val = c_name
    - batch 2 (ts T0+50k):  UPDATE for g0/g2, val = upper(c_name)
    - batch 3 (ts T0+100k): UPDATE for g0/g1 with `val` marked
      TOAST-unavailable (absent from the wire, carry must resolve it)

    Under horizon 30k: at the batch-3 merge the watermark is T0+50k,
    so g1's batch-1 state (ts T0) is EXPIRED — its marked update finds
    no carry seed and resolves to NULL (resurrect-as-insert made
    value-visible), while g0's batch-2 state is alive and carries
    upper(c_name) forward. After batch 3 the watermark is T0+100k, so
    the final visible state is exactly the batch-3 rows: g2 (idle
    since T0+50k) and g3 (idle since T0) have aged out of the
    aggregate entirely."""
    cust = spread_scan(load_table(spark, sf_dir, "customer"))
    ck = F.col("c_custkey").cast("long")
    g = ck % 4
    name = F.col("c_name")

    def event(step, op, val, marked):
        return F.struct(
            F.lit(step).cast("long").alias("step"),
            F.lit(op).alias("op"),
            val.alias("val"),
            F.lit(marked).alias("marked"),
        )

    e1 = event(1, "c", name, False)
    e2 = F.when(g.isin(0, 2), event(2, "u", F.upper(name), False))
    e3 = F.when(g.isin(0, 1), event(3, "u", F.lit(None).cast("string"), True))
    ev = cust.select(
        ck.alias("id"), F.explode(F.array(e1, e2, e3)).alias("e")
    ).filter(F.col("e").isNotNull())

    step = F.col("e.step")
    op = F.col("e.op")
    row = F.struct(F.col("id").alias("id"), F.col("e.val").alias("val"))
    ts_ms = (F.lit(1_700_000_000_000) + (step - 1) * F.lit(50_000)).cast("long")
    env = F.struct(
        F.when(op.isin("u", "d"), row).alias("before"),
        F.when(op != F.lit("d"), row).alias("after"),
        F.struct(
            F.lit("1.4.0").alias("version"),
            F.lit("postgresql").alias("connector"),
            F.lit("dbserver1").alias("name"),
            ts_ms.alias("ts_ms"),
            F.lit("experiment").alias("db"),
            F.lit("public").alias("schema"),
            F.lit("customers_ttl").alias("table"),
            (F.col("id") * 10 + step).cast("long").alias("txId"),
            (F.col("id") * 10 + step).cast("long").alias("lsn"),
        ).alias("source"),
        op.alias("op"),
        ts_ms.alias("ts_ms"),
        F.when(F.col("e.marked"), F.array(F.lit("val"))).alias("unavailable"),
    )
    return ev.select(step.alias("_step"), F.to_json(env).alias("value"))


def _ttl_drop_step(wire: DataFrame, work: str, src_dir: str, step: int) -> None:
    """Materialize history step ``step`` of the TTL wire feed as one
    text file in the streaming source dir. Mtimes are staggered per
    step so the file source serves the steps as successive
    micro-batches (distinct mtimes are load-bearing together with
    maxFilesPerTrigger=1)."""
    import os
    import shutil

    step_dir = os.path.join(work, f"w{step}")
    wire.filter(F.col("_step") == step).select("value").coalesce(1).write.mode(
        "overwrite"
    ).text(step_dir)
    part = next(p for p in os.listdir(step_dir) if p.startswith("part-"))
    dst = os.path.join(src_dir, f"batch{step}.txt")
    shutil.move(os.path.join(step_dir, part), dst)
    t = 1_700_000_000 + step * 60
    os.utime(dst, (t, t))


#: shared DuckDB oracle for the TTL pipeline: `cdc_ttl_streamed` and
#: `cdc_ttl_restart_streamed` must converge to the SAME final state —
#: the watermark and its expiry decisions are persisted, so a
#: kill/resume between batches is invisible in the result.
_TTL_ORACLE_SQL = f"""
    WITH ids AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name FROM customer),
    -- the three batches, ts exactly as the wire feed stamps them
    b1 AS (SELECT id, name AS val, CAST(1700000000000 AS BIGINT) AS ts FROM ids),
    b2 AS (SELECT id, upper(name) AS val, CAST(1700000000000 + 50000 AS BIGINT) AS ts
           FROM ids WHERE id % 4 IN (0, 2)),
    b3k AS (SELECT id, CAST(1700000000000 + 100000 AS BIGINT) AS ts
            FROM ids WHERE id % 4 IN (0, 1)),
    -- watermark after batch 2 = max committed event time so far
    wm2 AS (SELECT MAX(ts) AS wm FROM (SELECT ts FROM b1 UNION ALL SELECT ts FROM b2)),
    -- state after batch 2: latest per key over b1 ∪ b2 (the batch-2
    -- merge expires nothing: its horizon wm1 - {_TTL_HORIZON} predates all data)
    state2 AS (
      SELECT id, val, ts FROM (
        SELECT id, val, ts, ROW_NUMBER() OVER (PARTITION BY id ORDER BY ts DESC) AS rn
        FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)) WHERE rn = 1),
    -- batch-3 merge under wm2's horizon: only UN-expired state seeds
    -- the marked-column carry; an expired key resurrects as an insert
    -- whose marked val has no seed -> NULL
    resolved3 AS (
      SELECT k.id, s.val, k.ts
      FROM b3k k
      LEFT JOIN (SELECT s2.*, w.wm FROM state2 s2 CROSS JOIN wm2 w) s
        ON s.id = k.id AND s.ts >= s.wm - {_TTL_HORIZON}),
    merged3 AS (
      SELECT id, val, ts FROM state2
      UNION ALL
      SELECT id, val, ts FROM resolved3),
    state3 AS (
      SELECT id, val, ts FROM (
        SELECT id, val, ts, ROW_NUMBER() OVER (PARTITION BY id ORDER BY ts DESC) AS rn
        FROM merged3) WHERE rn = 1),
    -- final watermark = max event time ever committed
    wm3 AS (SELECT MAX(ts) AS wm FROM merged3)
    SELECT CAST(id % 10 AS BIGINT) AS grp,
           CAST(COUNT(1) AS BIGINT) AS live_keys,
           CAST(COUNT(val) AS BIGINT) AS val_keys,
           MIN(val) AS min_val,
           MAX(val) AS max_val
    FROM state3 CROSS JOIN wm3
    WHERE ts >= wm - {_TTL_HORIZON}
    GROUP BY CAST(id % 10 AS BIGINT)
    """


@register("cdc_ttl_streamed", _TTL_ORACLE_SQL)
def cdc_ttl_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 optional event-time state TTL under the value hash (VERDICT
    r11 #4): the compacted-aggregate pipeline of `cdc_pipeline_streamed`
    run through the state store's event-time TTL
    (streaming/statestore.py) with a horizon that (a) expires a known
    key mid-stream so its next marked update resurrects as a fresh
    insert with a NULL-resolved carry, (b) keeps
    a sibling key's state alive so the same-shaped update carries the
    prior value forward, and (c) ages idle keys out of the final
    aggregate entirely. The oracle replays the persisted-watermark rule
    batch by batch in DuckDB (wm_k = max committed event time; a row is
    invisible when ts < wm - horizon). Default-off semantics are
    untouched: ttl=None remains the reference's idle-state-retention-0
    behavior (sql-client-conf.yaml:16-17), regression-pinned in
    tests/test_statestore.py."""
    import os
    import shutil
    import tempfile

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks import ParquetUpsertSink
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources import read_cdc_file_stream
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import run_compacted_aggregate

    wire = _ttl_wire(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="cdc_ttl_streamed_")
    try:
        src_dir = os.path.join(work, "src")
        os.makedirs(src_dir)
        # one file per history step, mtime-ordered so the file source
        # serves them as three successive micro-batches
        for step in (1, 2, 3):
            _ttl_drop_step(wire, work, src_dir, step)
        stream = read_cdc_file_stream(spark, src_dir, max_files_per_trigger=1)
        flat = project_flat(
            parse_cdc(stream, _TTL_ROW_SCHEMA),
            "customers_ttl",
            ["id", "val"],
            keep_unavailable=True,
        ).withColumn("grp", F.pmod(F.col("id"), F.lit(10)).cast("long"))
        sink = ParquetUpsertSink(os.path.join(work, "sink"), key_cols=["grp"], refresh=True)
        q = run_compacted_aggregate(
            flat,
            state_dir=os.path.join(work, "state"),
            key_cols=["id"],
            seq_cols=["ts_ms", "lsn"],
            group_cols=["grp"],
            op_col="op",
            agg_exprs=[
                F.count(F.lit(1)).alias("live_keys"),
                F.count("val").alias("val_keys"),
                F.min("val").alias("min_val"),
                F.max("val").alias("max_val"),
            ],
            sink=sink,
            query_name="cdc_ttl_streamed",
            unavailable_col="unavailable",
            ttl_col="ts_ms",
            ttl=_TTL_HORIZON,
        )
        q.processAllAvailable()
        q.stop()
        pdf = (
            sink.read(spark)
            .select(
                F.col("grp").cast("bigint").alias("grp"),
                F.col("live_keys").cast("bigint").alias("live_keys"),
                F.col("val_keys").cast("bigint").alias("val_keys"),
                "min_val",
                "max_val",
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "grp bigint, live_keys bigint, val_keys bigint, min_val string, max_val string"
    )


@register("cdc_ttl_restart_streamed", _TTL_ORACLE_SQL)
def cdc_ttl_restart_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`cdc_ttl_streamed` with a kill/resume in the middle (VERDICT r12
    #7): the query is STOPPED after micro-batch 2, then a brand-new
    query restarts from the same checkpoint + state root and processes
    batch 3 alone. Grades the TTL watermark's restart survival under
    the value hash: the persisted `_ttl.json` watermark (T0+50k after
    batch 2) must drive the SAME expiry decision at the batch-3 merge
    in the second incarnation — g1's pre-restart state is expired (its
    marked update resurrects with a NULL-resolved carry) while g0's
    carries forward — so both runs converge to the identical final
    aggregate and share one oracle (`_TTL_ORACLE_SQL`). Previously
    this was pytest-pinned only (tests/test_statestore.py); the
    restart mechanics mirror tests/test_restart.py:62 over
    streaming/statestore.py + streaming/compaction.py."""
    import os
    import shutil
    import tempfile

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks import ParquetUpsertSink
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources import read_cdc_file_stream
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import run_compacted_aggregate

    wire = _ttl_wire(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="cdc_ttl_restart_streamed_")
    try:
        src_dir = os.path.join(work, "src")
        os.makedirs(src_dir)
        sink = ParquetUpsertSink(os.path.join(work, "sink"), key_cols=["grp"], refresh=True)

        def incarnation():
            # a fresh stream/query object per incarnation — progress
            # lives in the shared checkpoint, state in the shared store
            stream = read_cdc_file_stream(spark, src_dir, max_files_per_trigger=1)
            flat = project_flat(
                parse_cdc(stream, _TTL_ROW_SCHEMA),
                "customers_ttl",
                ["id", "val"],
                keep_unavailable=True,
            ).withColumn("grp", F.pmod(F.col("id"), F.lit(10)).cast("long"))
            return run_compacted_aggregate(
                flat,
                state_dir=os.path.join(work, "state"),
                key_cols=["id"],
                seq_cols=["ts_ms", "lsn"],
                group_cols=["grp"],
                op_col="op",
                agg_exprs=[
                    F.count(F.lit(1)).alias("live_keys"),
                    F.count("val").alias("val_keys"),
                    F.min("val").alias("min_val"),
                    F.max("val").alias("max_val"),
                ],
                sink=sink,
                query_name="cdc_ttl_restart_streamed",
                unavailable_col="unavailable",
                ttl_col="ts_ms",
                ttl=_TTL_HORIZON,
            )

        # incarnation 1 sees only steps 1-2, then is killed
        _ttl_drop_step(wire, work, src_dir, 1)
        _ttl_drop_step(wire, work, src_dir, 2)
        q = incarnation()
        q.processAllAvailable()
        q.stop()
        # step 3 lands while the job is down; incarnation 2 resumes
        # from the checkpoint and must merge it under the PERSISTED
        # watermark, not a rebuilt one
        _ttl_drop_step(wire, work, src_dir, 3)
        q2 = incarnation()
        q2.processAllAvailable()
        q2.stop()
        pdf = (
            sink.read(spark)
            .select(
                F.col("grp").cast("bigint").alias("grp"),
                F.col("live_keys").cast("bigint").alias("live_keys"),
                F.col("val_keys").cast("bigint").alias("val_keys"),
                "min_val",
                "max_val",
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "grp bigint, live_keys bigint, val_keys bigint, min_val string, max_val string"
    )


def _toast_wal2json_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed per-event rows for the wal2json TOAST history — the same
    four-group semantics as `_toast_wire` (shared oracle), but carrying
    the WIRE-LEVEL facts a wal2json format-v2 record needs: whether the
    UPDATE's new tuple carries `body` at all (``body_on_wire`` — real
    wal2json simply OMITS an unchanged-TOAST column, no marker), plus
    the REPLICA IDENTITY FULL old-tuple images (``ident_*`` — FULL
    identity logs the complete old row, which is the only reason the
    omission is detectable; the reference provisions exactly FULL,
    setup_source_db1.sql:11,17).

    Wire facts per group (g = doc_id % 4): g0 — both updates omit
    `body` (double carry); g1 — e2 ships body as an EXPLICIT null
    (real overwrite; its e3 omits body while the identity still names
    the column, value null); g2 — ordinary rewrite ships the value;
    g3 — e2 omits body, e3 is a DELETE (identity only, no columns)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    ck = F.col("doc_id")
    grp = ck % 4
    lang = F.col("lang")
    text = F.col("text")
    null_s = F.lit(None).cast("string")

    def event(lsn, action, new_lang, new_body, body_on_wire, ident_lang, ident_body):
        return F.struct(
            lsn.cast("long").alias("lsn"),
            F.lit(action).alias("action"),
            new_lang.alias("new_lang"),
            new_body.alias("new_body"),
            body_on_wire.alias("body_on_wire"),
            ident_lang.alias("ident_lang"),
            ident_body.alias("ident_body"),
        )

    e1 = event(ck * 10 + 1, "I", lang, text, F.lit(True), null_s, null_s)
    e2 = event(
        ck * 10 + 2,
        "U",
        F.concat(lang, F.lit(" v2")),
        F.when(grp == 2, F.concat(F.lit("rewritten-"), ck.cast("string"))),
        grp.isin(1, 2),  # g1 explicit null / g2 rewrite ride the wire; g0, g3 omit
        lang,
        text,
    )
    e3u = event(
        ck * 10 + 3,
        "U",
        F.concat(lang, F.lit(" v3")),
        null_s,
        F.lit(False),  # omitted: unchanged-TOAST
        F.concat(lang, F.lit(" v2")),
        F.when(grp == 0, text),  # g1's old body is the REAL NULL e2 wrote
    )
    e3d = event(
        ck * 10 + 3, "D", null_s, null_s, F.lit(False),
        F.concat(lang, F.lit(" v2")), text,
    )
    return docs.select(
        ck.alias("id"),
        F.explode(
            F.array(e1, e2, F.when(grp.isin(0, 1), e3u).when(grp == 3, e3d))
        ).alias("e"),
    ).filter(F.col("e").isNotNull()).select("id", "e.*")


def _translate_wal2json_records(batches):
    """mapInPandas kernel: render each event as a real wal2json
    format-version-2 record (JSON round-tripped, exactly the dict
    shape `peek_changes` json.loads from the slot) and translate it
    through the PRODUCTION `wal2json_to_envelope`
    (sources/postgres_cdc.py:216-262) — the identity-vs-columns
    omission diff FIRES here on every update whose new tuple omits
    `body`. Stateless per record, so it parallelizes Arrow-batched."""
    import json as _json

    import pandas as _pd

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.postgres_cdc import wal2json_to_envelope

    def s(v):  # Arrow/pandas null → None
        return None if v is None or (isinstance(v, float) and _pd.isna(v)) else v

    for pdf in batches:
        out = []
        for r in pdf.itertuples(index=False):
            lsn = int(r.lsn)
            rec: dict = {
                "action": r.action,
                "schema": "public",
                "table": "documents",
                "lsn_int": lsn,
                "timestamp_ms": 1_700_000_000_000 + lsn,
            }
            if r.action != "D":
                cols = [
                    {"name": "id", "type": "bigint", "value": int(r.id)},
                    {"name": "lang", "type": "text", "value": s(r.new_lang)},
                ]
                if bool(r.body_on_wire):
                    cols.append({"name": "body", "type": "text", "value": s(r.new_body)})
                rec["columns"] = cols
            if r.action != "I":  # REPLICA IDENTITY FULL: complete old row
                rec["identity"] = [
                    {"name": "id", "type": "bigint", "value": int(r.id)},
                    {"name": "lang", "type": "text", "value": s(r.ident_lang)},
                    {"name": "body", "type": "text", "value": s(r.ident_body)},
                ]
            env = wal2json_to_envelope(_json.loads(_json.dumps(rec)), "experiment")
            out.append(env)
        yield _pd.DataFrame({"value": out})


@register("cdc_toast_wal2json", _TOAST_PIPELINE_ORACLE)
def cdc_toast_wal2json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wal2json TOAST omission diff graded WHERE IT FIRES
    (VERDICT r10 #2): every prior graded consumer of
    `wal2json_to_envelope` feeds records whose identity equals the
    column set, so the round-10 identity-vs-columns diff
    (postgres_cdc.py:216-262) was green by inactivity. Here the feed
    is the real wire shape: UPDATE new tuples that OMIT the unchanged
    TOAST column while the REPLICA IDENTITY FULL old tuple still
    names it — no in-band marker exists in wal2json, the diff is the
    ONLY detection — then the standard resolve→compact pipeline must
    hash-match the same carry-replay oracle as `cdc_toast_pipeline`
    (double-marked carry, real-NULL survival, rewrites, tombstones).
    wal2json cannot run live in this sandbox (stock Postgres ships
    without it), so this synthetic graded row is the only value-level
    evidence the firing branch can get.

    Scale shape: the translation is stateless per record → one
    Arrow-batched mapInPandas (the same per-record work the tail
    planner does driver-side on a real slot, here spread across
    executors), then parse once behind a lazy localCheckpoint and ONE
    key exchange shared by the resolution window and compaction (the
    `cdc_toast_pipeline` plan shape)."""
    wire = _toast_wal2json_feed(spark, sf_dir).mapInPandas(
        _translate_wal2json_records, "value string"
    )
    parsed = parse_cdc(wire, _TOAST_ROW_SCHEMA).localCheckpoint(eager=False)
    flat = project_flat(
        parsed, "documents", ["id", "lang", "body"], keep_unavailable=True
    )
    resolved = resolve_unavailable(
        flat, ["id"], ["ts_ms", "lsn"], ["lang", "body"], op_col="op"
    )
    latest = compact_latest(resolved, ["id"], ["ts_ms", "lsn"], op_col="op")
    return latest.select(F.col("id").cast("bigint").alias("id"), "lang", "body")


def _ttl_wal2json_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed per-event rows for the TTL history (`_ttl_wire`'s exact
    three-batch scenario, shared `_TTL_ORACLE_SQL`) carrying the
    WIRE-LEVEL facts a wal2json format-v2 record needs instead of a
    pre-built envelope: whether the UPDATE's new tuple carries `val`
    at all (real wal2json OMITS an unchanged-TOAST column — no
    marker), plus the REPLICA IDENTITY FULL old-tuple value. Per
    group g = c_custkey % 4: batch 1 inserts every key (val on wire);
    batch 2 updates g0/g2 with upper(c_name) on the wire (identity
    names the batch-1 value); batch 3 updates g0/g1 with `val`
    OMITTED while the FULL identity still names the true old value —
    upper(name) for g0 (which saw batch 2), name for g1 (which did
    not). That identity value is exactly what the TTL pipeline must
    NOT use as the carry seed for an expired key: g1's state is past
    the horizon at the batch-3 merge, so the resurrect resolves NULL
    even though the wire's before-image spells out the old value."""
    cust = spread_scan(load_table(spark, sf_dir, "customer"))
    ck = F.col("c_custkey").cast("long")
    g = ck % 4
    name = F.col("c_name")
    null_s = F.lit(None).cast("string")

    def event(step, action, new_val, val_on_wire, ident_val):
        return F.struct(
            F.lit(step).cast("long").alias("step"),
            F.lit(action).alias("action"),
            new_val.alias("new_val"),
            val_on_wire.alias("val_on_wire"),
            ident_val.alias("ident_val"),
        )

    e1 = event(1, "I", name, F.lit(True), null_s)
    e2 = F.when(g.isin(0, 2), event(2, "U", F.upper(name), F.lit(True), name))
    e3 = F.when(
        g.isin(0, 1),
        event(3, "U", null_s, F.lit(False), F.when(g == 0, F.upper(name)).otherwise(name)),
    )
    return (
        cust.select(ck.alias("id"), F.explode(F.array(e1, e2, e3)).alias("e"))
        .filter(F.col("e").isNotNull())
        .select("id", "e.*")
    )


def _translate_ttl_wal2json(batches):
    """mapInPandas kernel for the TTL wal2json twin: render each event
    as a real wal2json format-version-2 record (JSON round-tripped,
    the dict shape `peek_changes` json.loads from the slot) and
    translate it through the PRODUCTION `wal2json_to_envelope`
    (sources/postgres_cdc.py) — the identity-vs-columns omission diff
    FIRES on every batch-3 update (new tuple omits `val`, FULL
    identity names it). Timestamps and lsns are stamped exactly as
    `_ttl_wire` stamps them (ts = T0 + (step-1)*50k, lsn = id*10+step)
    so the pgoutput-shaped and wal2json-translated feeds share one
    oracle. Stateless per record → Arrow-batched, keeps `_step` so
    the caller can spool one file per history step."""
    import json as _json

    import pandas as _pd

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.postgres_cdc import wal2json_to_envelope

    def s(v):  # Arrow/pandas null → None
        return None if v is None or (isinstance(v, float) and _pd.isna(v)) else v

    for pdf in batches:
        steps, envs = [], []
        for r in pdf.itertuples(index=False):
            step = int(r.step)
            lsn = int(r.id) * 10 + step
            rec: dict = {
                "action": r.action,
                "schema": "public",
                "table": "customers_ttl",
                "lsn_int": lsn,
                "timestamp_ms": 1_700_000_000_000 + (step - 1) * 50_000,
            }
            cols = [{"name": "id", "type": "bigint", "value": int(r.id)}]
            if bool(r.val_on_wire):
                cols.append({"name": "val", "type": "text", "value": s(r.new_val)})
            rec["columns"] = cols
            if r.action != "I":  # REPLICA IDENTITY FULL: complete old row
                rec["identity"] = [
                    {"name": "id", "type": "bigint", "value": int(r.id)},
                    {"name": "val", "type": "text", "value": s(r.ident_val)},
                ]
            env = wal2json_to_envelope(_json.loads(_json.dumps(rec)), "experiment")
            steps.append(step)
            envs.append(env)
        yield _pd.DataFrame({"_step": _pd.Series(steps, dtype="int64"), "value": envs})


@register("cdc_ttl_wal2json_streamed", _TTL_ORACLE_SQL)
def cdc_ttl_wal2json_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`cdc_ttl_streamed` with the wire re-rendered as wal2json
    (VERDICT r13 #8): the same three-batch TTL history arrives as
    format-v2 records whose batch-3 updates OMIT the unchanged `val`
    column, the Arrow-batched translation through the production
    `wal2json_to_envelope` recovers the unavailable marker via the
    REPLICA-IDENTITY-FULL identity-vs-columns diff, and the TTL'd
    compacted aggregate must then make the identical expiry decisions
    under the shared `_TTL_ORACLE_SQL`. The composition this grades —
    previously only via the synthetic pgoutput-shaped feed: the
    omission diff's markers and the TTL resurrect-as-NULL-carry
    interact correctly through BOTH wire formats. The sharpest edge is
    g1's batch-3 update: wal2json's FULL identity puts the true old
    value ON THE WIRE in the before-image, but the key's state is past
    the horizon at the merge — the carry must resolve NULL from the
    expiry-filtered store, never be seeded from the before-image. A
    pipeline that leaked before-images into the carry would pass the
    pgoutput twin (whose step-3 before-image val is NULL) and fail
    only here."""
    import os
    import shutil
    import tempfile

    from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks import ParquetUpsertSink
    from experiment_flink_cdc_connectors_postgres_datastream_spark.sources import read_cdc_file_stream
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import run_compacted_aggregate

    wire = _ttl_wal2json_feed(spark, sf_dir).mapInPandas(
        _translate_ttl_wal2json, "_step long, value string"
    )
    work = tempfile.mkdtemp(prefix="cdc_ttl_wal2json_streamed_")
    try:
        src_dir = os.path.join(work, "src")
        os.makedirs(src_dir)
        for step in (1, 2, 3):
            _ttl_drop_step(wire, work, src_dir, step)
        stream = read_cdc_file_stream(spark, src_dir, max_files_per_trigger=1)
        flat = project_flat(
            parse_cdc(stream, _TTL_ROW_SCHEMA),
            "customers_ttl",
            ["id", "val"],
            keep_unavailable=True,
        ).withColumn("grp", F.pmod(F.col("id"), F.lit(10)).cast("long"))
        sink = ParquetUpsertSink(os.path.join(work, "sink"), key_cols=["grp"], refresh=True)
        q = run_compacted_aggregate(
            flat,
            state_dir=os.path.join(work, "state"),
            key_cols=["id"],
            seq_cols=["ts_ms", "lsn"],
            group_cols=["grp"],
            op_col="op",
            agg_exprs=[
                F.count(F.lit(1)).alias("live_keys"),
                F.count("val").alias("val_keys"),
                F.min("val").alias("min_val"),
                F.max("val").alias("max_val"),
            ],
            sink=sink,
            query_name="cdc_ttl_wal2json_streamed",
            unavailable_col="unavailable",
            ttl_col="ts_ms",
            ttl=_TTL_HORIZON,
        )
        q.processAllAvailable()
        q.stop()
        pdf = (
            sink.read(spark)
            .select(
                F.col("grp").cast("bigint").alias("grp"),
                F.col("live_keys").cast("bigint").alias("live_keys"),
                F.col("val_keys").cast("bigint").alias("val_keys"),
                "min_val",
                "max_val",
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "grp bigint, live_keys bigint, val_keys bigint, min_val string, max_val string"
    )


# ------------------------------------------------- S3 + A3 drift breadth

@register(
    "cdc_schema_drop_column",
    f"""
    WITH src AS (
      SELECT {_OP_SQL} AS op,
             'schema' || CAST(user_id % 4 + 1 AS VARCHAR) AS pgschema,
             epoch_ms(ts) AS ts_ms,
             event_id AS lsn,
             user_id AS id,
             props AS full_name
      FROM events),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM src) WHERE rn = 1)
    SELECT pgschema,
           CAST(COUNT(1) AS BIGINT) AS live_users,
           CAST(COALESCE(SUM(length(full_name)), 0) AS BIGINT) AS name_chars
    FROM latest WHERE op <> 'd'
    GROUP BY pgschema
    """,
)
def cdc_schema_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+A3 under the SECOND drift shape the reference leaves TODO
    (SJCD:200 handles no DDL at all; `cdc_schema_evolution` grades
    ADD COLUMN): a column DROPPED mid-stream. Pre-DDL envelopes
    genuinely CARRY the dead key (`legacy_flag`, rendered on the wire
    for early rows only); the consumer parses the WHOLE feed with the
    narrowed post-DDL schema. The contract under the hash: unknown
    keys are ignored — never an error, never a dropped record — and
    every surviving column's values ride through compaction intact
    (live count + exact name-length checksum per pg-schema).

    Scale shape: identical to `cdc_pipeline` — parse once behind a
    lazy localCheckpoint, one compaction shuffle, tiny final agg.
    Narrowing is free at 100 TB: `from_json` skips unmatched keys at
    parse time; nothing is rewritten."""
    ev = spread_scan(load_table(spark, sf_dir, "events"))
    # the dropped column: on the wire pre-DDL, absent post-DDL (CASE
    # null → to_json's ignoreNullFields omits it). Envelope rendered
    # as SQL text (see `_envelope_sql` — same per-build py4j-loop trap,
    # same field names/order/CASE semantics as the previous Column-API
    # struct build, oracle re-proved).
    legacy_sql = (
        "CASE WHEN ts < cast('2024-01-15 00:00:00' as timestamp) "
        "THEN user_id % 2 = 0 END"
    )
    wire = ev.selectExpr(
        _envelope_sql(
            f"named_struct('id', user_id, 'full_name', props, 'legacy_flag', {legacy_sql})",
            "users",
        )
        + " AS value"
    )
    # post-DDL (narrowed) schema: legacy_flag is GONE — USERS_ROW_SCHEMA
    parsed = parse_cdc(wire, USERS_ROW_SCHEMA).localCheckpoint(eager=False)
    flat = with_key(project_flat(parsed, "users", ["id", "full_name"]), "schema", "id")
    latest = compact_latest(flat, ["key"], ["ts_ms", "lsn"])
    live = latest.filter(F.col("op") != "d")
    return live.groupBy(F.col("schema").alias("pgschema")).agg(
        F.count(F.lit(1)).alias("live_users"),
        F.coalesce(F.sum(F.length("full_name")), F.lit(0)).cast("bigint").alias("name_chars"),
    )


@register(
    "cdc_schema_widen_type",
    f"""
    WITH src AS (
      SELECT {_OP_SQL} AS op,
             'schema' || CAST(user_id % 4 + 1 AS VARCHAR) AS pgschema,
             epoch_ms(ts) AS ts_ms,
             event_id AS lsn,
             user_id AS id,
             CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                  THEN user_id * 1000 + 3000000000
                  ELSE user_id * 1000 END AS balance
      FROM events),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY pgschema, id ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM src) WHERE rn = 1)
    SELECT pgschema,
           CAST(COUNT(1) AS BIGINT) AS live_users,
           CAST(SUM(CASE WHEN balance > 2147483647 THEN 1 ELSE 0 END) AS BIGINT) AS widened_rows,
           CAST(SUM(balance) AS BIGINT) AS balance_sum
    FROM latest WHERE op <> 'd'
    GROUP BY pgschema
    """,
)
def cdc_schema_widen_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+A3 under the THIRD drift shape: a column's type WIDENED
    mid-stream (ALTER TABLE ... ALTER COLUMN balance TYPE BIGINT).
    Pre-DDL envelopes carry int32-range values; post-DDL values
    exceed 2^31, which would overflow the old parse schema. The
    consumer parses the WHOLE feed with the widened LongType — int32
    literals widen losslessly, no record errors — and compaction
    across the boundary proves the merge with an exact BIGINT sum
    (`balance_sum` includes both populations; `widened_rows` counts
    the post-DDL ones per pg-schema).

    Scale shape: identical to `cdc_pipeline`. Widening is a parse-
    schema change only — nothing is rewritten at 100 TB."""
    ev = spread_scan(load_table(spark, sf_dir, "events"))
    # pre-DDL int32-range values, post-DDL past 2^31 — envelope
    # rendered as SQL text (see `_envelope_sql`; the 3000000000
    # literal parses as BIGINT, the cast pins the pre-DDL branch to
    # the same widened type the Column build produced).
    balance_sql = (
        "cast(CASE WHEN ts >= cast('2024-01-15 00:00:00' as timestamp) "
        "THEN user_id * 1000 + 3000000000 "
        "ELSE user_id * 1000 END as bigint)"
    )
    wire = ev.selectExpr(
        _envelope_sql(
            f"named_struct('id', user_id, 'balance', {balance_sql})", "users"
        )
        + " AS value"
    )
    widened_schema = StructType(
        [StructField("id", LongType()), StructField("balance", LongType())]
    )
    parsed = parse_cdc(wire, widened_schema).localCheckpoint(eager=False)
    flat = with_key(project_flat(parsed, "users", ["id", "balance"]), "schema", "id")
    latest = compact_latest(flat, ["key"], ["ts_ms", "lsn"])
    live = latest.filter(F.col("op") != "d")
    return live.groupBy(F.col("schema").alias("pgschema")).agg(
        F.count(F.lit(1)).alias("live_users"),
        F.sum(F.when(F.col("balance") > 2_147_483_647, 1).otherwise(0))
        .cast("bigint")
        .alias("widened_rows"),
        F.sum("balance").cast("bigint").alias("balance_sum"),
    )
