"""Stand-ins for the Postgres server behind the production CDC reader.

``tail_steady`` drives the production ``PostgresCDCStreamReader`` through
its ``client`` seam, the same seam ``sources/snapshot_bench.py`` uses.
Only the SQL calls behind that seam are replaced: the planner, the
wal2json translation and the slot advance are production code.

The generator (``changegen.py``) writes one append-only segment file of
wal2json records per tick. :class:`SegmentSlotClient` serves them with
the real peek contract: records strictly after the confirmed LSN, at
most ``limit`` of them, and a peek consumes nothing.

``snapshot_drain`` uses the production ``ParquetCdcBenchClient`` (the
``cdc_full_bench`` source) through :class:`CountingCdcBenchClient`, which
only adds the same peek counters.

The clients live in Spark's Python worker for the streaming source, not
in the benchmark's process, so their counters go to a JSON file that the
benchmark reads when the run ends.
"""

from __future__ import annotations

import bisect
import json
import os
import time
from typing import Any

from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.postgres_cdc import (
    RAW_CDC_SCHEMA,
    PostgresCDCConfig,
    PostgresCDCStreamReader,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.snapshot_bench import (
    ParquetCdcBenchClient,
    ParquetWalClient,
)

SEGMENT_PREFIX = "seg-"


class PeekStats:
    """Peek calls, peek time, records peeked and distinct records peeked
    (a peek re-reads everything after the confirmed LSN, so the share of
    distinct records is the useful share); written to ``path`` (when
    given) after every peek that returned records."""

    def __init__(self, path: str | None):
        self.path = path
        self.values = {"peek_calls": 0, "peek_s": 0.0, "peeked": 0, "distinct": 0}
        self._max_lsn = -1

    def peek(self, seconds: float, records: list[dict[str, Any]]) -> None:
        self.values["peek_calls"] += 1
        self.values["peek_s"] += seconds
        if not records:
            return
        self.values["peeked"] += len(records)
        self.values["distinct"] += sum(1 for r in records if r["lsn_int"] > self._max_lsn)
        self._max_lsn = max(self._max_lsn, records[-1]["lsn_int"])
        if self.path is not None:
            tmp = self.path + ".tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(self.values, fh)
            os.replace(tmp, self.path)


def segment_name(index: int) -> str:
    return f"{SEGMENT_PREFIX}{index:08d}.json"


class SegmentSlotClient(ParquetWalClient):
    """A tail-only replication slot over the generator's segment files.

    The slot and snapshot-progress surface is ``ParquetWalClient``'s;
    peeks re-read from the confirmed position, like
    ``pg_logical_slot_peek_changes``. With a ``stats_path`` the client
    writes its :class:`PeekStats` there."""

    def __init__(self, segment_dir: str, stats_path: str | None = None):
        super().__init__(segment_dir, "users")
        self._lsns: list[int] = []
        self._records: list[dict[str, Any]] = []
        self._next_segment = 0
        self.stats = PeekStats(stats_path)

    def _load_new_segments(self) -> None:
        while True:
            path = os.path.join(self.path, segment_name(self._next_segment))
            try:
                with open(path, encoding="utf-8") as fh:
                    records = json.load(fh)
            except FileNotFoundError:
                return
            self._records.extend(records)
            self._lsns.extend(r["lsn_int"] for r in records)
            self._next_segment += 1

    def peek_changes(self, limit: int) -> list[dict[str, Any]]:
        t0 = time.perf_counter()
        self._load_new_segments()
        lo = bisect.bisect_right(self._lsns, self.confirmed)
        out = self._records[lo : lo + max(int(limit), 0)]
        self.stats.peek(time.perf_counter() - t0, out)
        return out


class CountingCdcBenchClient(ParquetCdcBenchClient):
    """The production two-phase bench client plus :class:`PeekStats`."""

    def __init__(self, path: str, table: str, pk_cols: list[str], stats_path: str | None = None):
        super().__init__(path, table, pk_cols)
        self.stats = PeekStats(stats_path)

    def peek_changes(self, limit: int) -> list[dict[str, Any]]:
        t0 = time.perf_counter()
        out = super().peek_changes(limit)
        self.stats.peek(time.perf_counter() - t0, out)
        return out


#: options these sources read themselves; the rest go to PostgresCDCConfig
_CLIENT_KEYS = ("segment_dir", "stats_path", "path", "table", "pk")


def _config(opts: dict[str, str]) -> PostgresCDCConfig:
    return PostgresCDCConfig.from_options({k: v for k, v in opts.items() if k not in _CLIENT_KEYS})

try:
    from pyspark.sql.datasource import DataSource
except ImportError:  # pragma: no cover - pre-4.0 pyspark
    DataSource = object  # type: ignore[assignment,misc]


class SegmentSlotDataSource(DataSource):
    """``readStream.format("cdcbench_slot")``: the production reader
    over :class:`SegmentSlotClient`. Options: ``segment_dir``,
    ``stats_path`` (optional) and any ``postgres_cdc`` option."""

    @classmethod
    def name(cls) -> str:
        return "cdcbench_slot"

    def schema(self):
        return RAW_CDC_SCHEMA

    def streamReader(self, schema) -> PostgresCDCStreamReader:
        opts = {k.lower(): v for k, v in dict(self.options).items()}
        client = SegmentSlotClient(opts["segment_dir"], opts.get("stats_path") or None)
        return PostgresCDCStreamReader(_config(opts), client=client)


class CountingCdcBenchDataSource(DataSource):
    """``readStream.format("cdcbench_full")``: ``cdc_full_bench`` with
    peek counters. Options: ``path``, ``table``, ``pk``, ``stats_path``
    (optional) and any ``postgres_cdc`` option."""

    @classmethod
    def name(cls) -> str:
        return "cdcbench_full"

    def schema(self):
        return RAW_CDC_SCHEMA

    def streamReader(self, schema) -> PostgresCDCStreamReader:
        opts = {k.lower(): v for k, v in dict(self.options).items()}
        client = CountingCdcBenchClient(
            opts["path"], opts.get("table", "events"), opts.get("pk", "event_id").split(","),
            opts.get("stats_path") or None,
        )
        return PostgresCDCStreamReader(_config(opts), client=client)
