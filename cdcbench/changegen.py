"""Open-loop change generator for ``tail_steady`` and its pure-Python model.

One thread emits insert/update/delete changes to the reference's
multi-schema ``users`` table at a fixed rate, whatever the pipeline
does. Keys are drawn with a seeded, skewed (Zipf-like) choice over a
bounded key space spread across four pg-schemas. Each change is stamped
with the time it was due, so a stall in the pipeline shows as
freshness, and each tick's changes land as one append-only segment file
that ``standin.SegmentSlotClient`` serves.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
import threading
import time

from cdcbench.standin import segment_name

SCHEMAS = ["schema1", "schema2", "schema3", "schema4"]
TABLE = "users"
#: the first LSN; the reader's WAL floor is 1 and the slot starts at 0
FIRST_LSN = 16
#: key space, Zipf exponent of the key choice, and the share of changes
#: to a live key that delete it (the rest update it)
N_KEYS = 4000
SKEW = 0.9
P_DELETE = 0.25
#: one segment file per tick; a run whose generator falls more than one
#: tick behind its schedule counts as failed
TICK_S = 0.25


def _columns(uid: int, full_name: str) -> list[dict]:
    """A ``users`` row as wal2json column records."""
    return [{"name": "id", "value": uid}, {"name": "full_name", "value": full_name}]


class ChangeGenerator:
    """Seeded changelog over N_KEYS keys, written tick by tick.

    ``due`` holds each change's due time (epoch seconds) indexed by
    ``lsn - FIRST_LSN``; ``live`` is the model: the set of live keys,
    from which :meth:`live_counts` gives the expected sink."""

    def __init__(self, segment_dir: str, seed: int, rate: float):
        self.segment_dir = segment_dir
        self.rate = rate
        self._rng = random.Random(seed)
        self._keys = [(SCHEMAS[i % len(SCHEMAS)], i // len(SCHEMAS) + 1) for i in range(N_KEYS)]
        self._rng.shuffle(self._keys)
        self._cum = list(itertools.accumulate(1.0 / (i + 1) ** SKEW for i in range(N_KEYS)))
        self.live: dict[tuple[str, int], str] = {}
        self.due: list[float] = []
        self.late_max_s = 0.0
        self.segments = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.error: BaseException | None = None

    @property
    def next_lsn(self) -> int:
        return FIRST_LSN + len(self.due)

    def _change(self, due: float) -> dict:
        rng = self._rng
        key = self._keys[bisect.bisect_left(self._cum, rng.random() * self._cum[-1])]
        schema, uid = key
        lsn = self.next_lsn
        old = self.live.get(key)
        name = f"user {uid} v{lsn}"
        rec = {"schema": schema, "table": TABLE, "timestamp_ms": int(due * 1000), "lsn_int": lsn, "xid": lsn}
        if old is None:
            rec.update(action="I", columns=_columns(uid, name))
            self.live[key] = name
        elif rng.random() < P_DELETE:
            rec.update(action="D", identity=_columns(uid, old))
            del self.live[key]
        else:
            rec.update(action="U", columns=_columns(uid, name), identity=_columns(uid, old))
            self.live[key] = name
        self.due.append(due)
        return rec

    def _write_segment(self, records: list[dict]) -> None:
        final = os.path.join(self.segment_dir, segment_name(self.segments))
        tmp = final + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(records, fh)
        os.replace(tmp, final)
        self.segments += 1

    def emit_backlog(self, n: int, stamp: float) -> None:
        """Write ``n`` changes at once, all stamped ``stamp`` (warm-up)."""
        self._write_segment([self._change(stamp) for _ in range(n)])

    def start(self, t0: float, seconds: float) -> None:
        self._thread = threading.Thread(target=self._run, args=(t0, seconds), name="changegen", daemon=True)
        self._thread.start()

    def _run(self, t0: float, seconds: float) -> None:
        try:
            n_ticks = max(1, round(seconds / TICK_S))
            emitted = 0
            for tick in range(1, n_ticks + 1):
                tick_end = t0 + tick * TICK_S
                delay = tick_end - time.time()
                if delay > 0 and self._stop.wait(delay):
                    return
                target = round(tick * TICK_S * self.rate)
                records = [self._change(t0 + (k + 1) / self.rate) for k in range(emitted, target)]
                emitted = target
                self._write_segment(records)
                self.late_max_s = max(self.late_max_s, time.time() - tick_end)
        except BaseException as e:  # reported by join(); the run then fails
            self.error = e

    def join(self, timeout: float) -> None:
        if self._thread is not None:
            self._thread.join(timeout)
            if self._thread.is_alive():
                self._stop.set()
                self._thread.join(timeout)
        if self.error is not None:
            raise RuntimeError("change generator failed") from self.error

    def live_counts(self) -> dict[str, int]:
        counts: dict[str, int] = {}
        for schema, _ in self.live:
            counts[schema] = counts.get(schema, 0) + 1
        return counts
