"""Optional event-time TTL over the generational state store
(VERDICT r10 #8).

Reference parity first: the reference job runs with idle state
retention 0 — state NEVER expires (sql-client-conf.yaml:16-17) — and
that stays the default here. :class:`TTLStateStore` with ``ttl=None``
is behavior-identical to :class:`~.statestore.GenerationalStateStore`
(regression-tested byte-for-byte), so every existing pipeline keeps
reference semantics unless an operator explicitly opts in.

Why opt in: a continuous 100-TB crawl that keys state by document /
user / session accumulates keys forever; most go permanently idle.
An event-time horizon bounds the state footprint without wall-clock
nondeterminism:

- The store keeps a persisted WATERMARK — the max value of ``ttl_col``
  ever committed (monotone, advanced at each commit from the
  generation just written, so a foreachBatch retry is idempotent).
  No ``now()`` is ever consulted: replaying the same batches yields
  the same expiry decisions on any host at any time (the same reason
  Spark's own state TTL and Flink's idle-state retention are defined
  against time columns/processing guarantees, not ad-hoc clocks).
- A row is EXPIRED when ``ttl_col < watermark - ttl``. Expired rows
  become invisible to :meth:`read` immediately and are physically
  dropped from a bucket the next time a commit rewrites it (lazy,
  LSM-style — per-batch expiry I/O stays O(touched buckets), never a
  full-state sweep).
- A key whose state expired and later receives a change simply has no
  prior state at merge time, so the change lands as a fresh insert —
  the resurrect-as-insert contract the regression test pins.

Layout addition: one tiny ``_ttl.json`` (``{"watermark": W}``) next to
the manifests; absent entirely when ``ttl=None`` so an opted-out store
root stays byte-identical to a base store root.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.statestore import (
    GenerationalStateStore,
    read_generation,
    recorded_schema,
)


class TTLStateStore(GenerationalStateStore):
    """:class:`GenerationalStateStore` plus an OPTIONAL event-time TTL.

    ``ttl_col`` names a monotone-ish event-time column every state row
    carries (the changelog's ``ts_ms`` is the natural choice);
    ``ttl`` is the horizon in the same units. Both default to None =
    no expiry = the reference's idle-state-retention-0 semantics.
    """

    def __init__(self, *args, ttl_col: str | None = None, ttl: int | None = None, **kwargs):
        if (ttl is None) != (ttl_col is None):
            raise ValueError("ttl and ttl_col must be given together (or neither)")
        if ttl is not None and ttl < 0:
            raise ValueError(f"ttl must be non-negative, got {ttl}")
        super().__init__(*args, **kwargs)
        self.ttl_col = ttl_col
        self.ttl = ttl

    # -- watermark bookkeeping ---------------------------------------------

    def _watermark(self) -> int | None:
        p = self._io.path("_ttl.json")
        if not self._io.exists(p):
            return None
        return json.loads(self._io.read_text(p)).get("watermark")

    def _advance_watermark(self, candidate: int | None, prev: int | None) -> None:
        """``prev`` is the watermark read at the start of the commit —
        passed in so one commit reads ``_ttl.json`` exactly once (the
        store is single-writer: only commit ever advances it)."""
        if candidate is None:
            return
        if prev is not None and prev >= candidate:
            return  # monotone; also makes commit replay idempotent
        self._io.write_text_atomic(
            self._io.path("_ttl.json.tmp"),
            self._io.path("_ttl.json"),
            json.dumps({"watermark": int(candidate)}),
        )

    def _expiry_filter(self, df: DataFrame, wm: int | None) -> DataFrame:
        if wm is None:
            return df
        # NULL event times never expire (a row without one gives the
        # horizon nothing to compare against — keep, don't guess)
        return df.filter(
            F.col(self.ttl_col).isNull() | (F.col(self.ttl_col) >= F.lit(wm - self.ttl))
        )

    # -- overrides ------------------------------------------------------------

    def read(self, buckets: list[int] | None = None) -> DataFrame | None:
        state = super().read(buckets=buckets)
        if state is None or self.ttl is None:
            return state
        return self._expiry_filter(state, self._watermark())

    def commit(self, df: DataFrame, touched_buckets: list[int], version: int) -> None:
        if self.ttl is None:
            super().commit(df, touched_buckets, version)
            return
        wm = self._watermark()
        # The generation is written UNFILTERED. Physical expiry still
        # happens on every bucket rewrite with no extra pass: the
        # merge that produced ``df`` read prior state through read(),
        # which is expiry-filtered, so expired rows vanish from a
        # bucket the first time it is rewritten after their horizon
        # passes. Filtering ``df`` itself here (as this method
        # originally did) would only additionally drop batch rows
        # that ARRIVE already expired — but when every row of the
        # touched buckets is such a straggler the generation comes
        # out physically EMPTY (zero parquet files, no schema to
        # infer) and any later read of a bucket it owns fails; the
        # property test's falsifying example. Already-expired
        # arrivals are permanently invisible to read() anyway (the
        # watermark is monotone). They are physically purged the next
        # time their bucket is rewritten; a straggler in a bucket
        # never touched again persists on disk only until the next
        # max_generations-triggered full compaction, whose merge reads
        # the ENTIRE state through the expiry-filtered read() and so
        # drops it (ADVICE r12) — a bounded space/scan cost, never a
        # correctness one.
        super().commit(df, touched_buckets, version)
        if not touched_buckets:
            return
        # advance the watermark from the generation just written — a
        # bounded columnar max, not a second evaluation of the (lazy)
        # merge plan. Single-generation invariant (ADVICE r12 removed
        # the dead per-generation grouping here): super().commit just
        # re-pointed EVERY touched bucket at the one generation it
        # wrote, and that directory physically holds only the touched
        # buckets' rows — so the read-back is exactly one scan of one
        # directory.
        manifest = self._current_manifest()
        gens = {manifest["buckets"][str(b)] for b in touched_buckets}
        # empty-bucket markers (statestore commit null-points a touched
        # bucket that received zero rows): nothing was physically
        # written for those buckets, so they contribute no event times.
        # An ALL-empty commit (every touched bucket marked) wrote a
        # footerless generation — skip the read-back entirely (no rows,
        # no watermark candidate) instead of crashing on schema
        # inference.
        gens.discard(None)
        if not gens:
            return
        if len(gens) != 1:
            # an explicit raise, not `assert` (ADVICE r13): under
            # `python -O` a stripped assert would let gens.pop() read
            # one arbitrary generation and silently under-advance the
            # TTL watermark (delayed expiry) with no error
            raise RuntimeError(
                f"touched buckets span generations immediately after commit: {sorted(gens)}"
            )
        row = (
            read_generation(self.spark, f"{self.root}/{gens.pop()}", recorded_schema(manifest))
            .agg(F.max(self.ttl_col))
            .collect()[0]
        )
        self._advance_watermark(row[0], prev=wm)
