"""Generational, bucketed parquet state store for streaming state.

Solves the two scale/durability problems of the naive
"overwrite the whole state table every micro-batch" approach
(the reference's continuous upsert state,
StreamingJobWithCustomDeserializer.java:183-194, made 100-TB-viable):

1. **Incremental I/O.** State rows are hash-partitioned into
   ``n_buckets`` by key (``pmod(xxhash64(keys), n)``), and each
   generation directory ``gen-<v>/_bucket=<b>/`` holds complete
   current contents for the buckets it owns, in ONE parquet file per
   bucket (rows are clustered by bucket before the partitioned write,
   so later scans pay one task per touched bucket, not one per write
   task × bucket). A micro-batch rewrites ONLY the buckets its keys
   touch; a manifest maps every bucket to the generation that
   currently owns it. Per-batch write I/O is O(touched state), not
   O(total state).

   At micro-batch sizes the cost is per FILE: a batch with more than
   about ``n_buckets`` distinct keys touches every bucket, so its
   commit writes ``n_buckets`` files and every read lists ``n_buckets``
   dirs (above 32, with a Spark listing job). On 4 cores a 58k-row
   merge into 58k-row state took 1.8-2.4 s at 64 buckets and 1.1 s at
   8, a full read 0.68 s and 0.14 s; hence :data:`DEFAULT_N_BUCKETS`.

2. **Atomic commit.** Nothing is ever overwritten in place: a batch
   writes a brand-new generation directory, then publishes it by
   renaming ``manifest-<v>.json.tmp`` → ``manifest-<v>.json``
   (single-file rename = the atomic pointer flip). A crash mid-write
   leaves the previous manifest intact and the half-written
   generation unreferenced; recovery reads the highest complete
   manifest. The previous manifest is retained one extra commit as a
   fallback generation.

**Opt-in event-time TTL.** The reference runs with idle state retention
0 — state never expires (sql-client-conf.yaml:16-17) — and that is the
default (``ttl_col``/``ttl`` both None; no ``_ttl.json`` is written). A
continuous crawl that keys state by document / user / session
accumulates keys forever, so a store may opt into an event-time horizon
instead of a wall clock:

- The store persists a WATERMARK in ``_ttl.json``: the max ``ttl_col``
  ever committed (monotone, advanced at each commit from the generation
  just written, so a foreachBatch retry is idempotent). No ``now()`` is
  consulted: replaying the same batches yields the same expiry
  decisions on any host.
- A row is EXPIRED when ``ttl_col < watermark - ttl``. Expired rows are
  invisible to :meth:`GenerationalStateStore.read` at once and
  physically dropped from a bucket the next time a commit rewrites it
  (lazy, LSM-style: expiry I/O stays O(touched buckets)).
- A key whose state expired and later receives a change has no prior
  state at merge time, so the change lands as a fresh insert.

All filesystem access goes through the Hadoop FileSystem API of the
active session (never ``os.path``), so the store works unchanged on
HDFS/S3A/local paths. Every generation is written by
:func:`write_buckets` and read by :func:`read_generation` with the
schema the manifest records, so a read runs no footer-inference job.
Every manifest is published by :func:`publish_manifest` and loaded by
:func:`load_manifest`, which refuses one that lacks a key of
:data:`MANIFEST_KEYS`.

Generation buildup is bounded: when a manifest would reference more
than ``max_generations`` distinct directories, the next commit is
promoted to a full compaction (all buckets rewritten into one new
generation) — the classic LSM-style periodic major compaction.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

BUCKET_COL = "_bucket"
#: bucket count of a new store (the stage-2 aggregate and the parquet
#: upsert sink too); a reopened store keeps the count its manifest records
DEFAULT_N_BUCKETS = 8


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Deterministic bucket id for a row: pmod(xxhash64(keys), n)."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)).cast("int")


def write_buckets(df: DataFrame, path: str, mode: str) -> None:
    """The one bucketed write (commit, savepoint, restore): rows are
    clustered by ``_bucket`` first, so each bucket is written by one
    task and its ``_bucket=<b>`` directory holds one parquet file."""
    df.repartition(BUCKET_COL).write.mode(mode).partitionBy(BUCKET_COL).parquet(path)


def recorded_schema(manifest: dict) -> StructType:
    """The committed schema a manifest records."""
    return StructType.fromJson(json.loads(manifest["schema"]))


def read_generation(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """The one generation read, with the schema the manifest records,
    so it fires no schema-inference job."""
    return spark.read.schema(schema).parquet(path)


class _Fs:
    """Minimal Hadoop FileSystem wrapper (py4j)."""

    def __init__(self, spark: SparkSession, root: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._root = jvm.org.apache.hadoop.fs.Path(root)
        self.fs = self._root.getFileSystem(self._conf)

    def path(self, *parts: str):
        p = self._root
        for part in parts:
            p = self._jvm.org.apache.hadoop.fs.Path(p, part)
        return p

    def exists(self, p) -> bool:
        return self.fs.exists(p)

    def list_names(self, p) -> list[str]:
        if not self.fs.exists(p):
            return []
        return [s.getPath().getName() for s in self.fs.listStatus(p)]

    def read_text(self, p) -> str:
        stream = self.fs.open(p)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def write_text_atomic(self, tmp, final, text: str) -> None:
        out = self.fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        if self.fs.exists(final):  # idempotent batch replay
            self.fs.delete(final, False)
        if not self.fs.rename(tmp, final):
            raise IOError(f"state store: atomic publish failed: {tmp} -> {final}")

    def delete(self, p) -> None:
        self.fs.delete(p, True)


#: the keys every manifest records; :func:`load_manifest` refuses a
#: manifest lacking any of them
MANIFEST_KEYS = ("n_buckets", "bucket_cols", "buckets", "schema")


def load_manifest(io: _Fs, name: str) -> dict:
    """Read the manifest ``name`` under ``io``'s root. One lacking a key
    of :data:`MANIFEST_KEYS` was not written by :func:`publish_manifest`
    and is refused: guessing its layout or inferring its schema could
    silently read the wrong buckets or types."""
    path = io.path(name)
    manifest = json.loads(io.read_text(path))
    missing = [k for k in MANIFEST_KEYS if manifest.get(k) is None]
    if missing:
        raise ValueError(
            f"state store manifest {path.toString()} lacks {missing}; every "
            f"manifest records {list(MANIFEST_KEYS)}"
        )
    return manifest


def publish_manifest(
    io: _Fs,
    version: int,
    n_buckets: int,
    bucket_cols: list[str],
    buckets: dict[str, str | None],
    schema_json: str,
) -> None:
    """The one manifest writer (commit, savepoint, restore): publish
    ``manifest-<version>.json`` under ``io``'s root by an atomic
    rename."""
    manifest = {
        "n_buckets": n_buckets,
        "bucket_cols": bucket_cols,
        "buckets": buckets,
        # committed schema: lets an all-empty store read back as a
        # typed zero-row table (see GenerationalStateStore.read)
        "schema": schema_json,
    }
    io.write_text_atomic(
        io.path(f"manifest-{version}.json.tmp"),
        io.path(f"manifest-{version}.json"),
        json.dumps(manifest),
    )


class GenerationalStateStore:
    """Bucketed parquet state with atomically-published manifests.

    Layout under ``root``::

        gen-<v>/_bucket=<b>/*.parquet   rows of bucket b as of commit v
        manifest-<v>.json               {"n_buckets": N, "bucket_cols": [...],
                                         "buckets": {"b": "gen-x", ...}, "schema": ...}
        _ttl.json                       {"watermark": W}, only under a TTL

    A bucket mapped to JSON ``null`` is the EMPTY-BUCKET MARKER: the
    bucket was explicitly committed with zero rows (every key deleted —
    e.g. a refresh batch whose groups all vanished, or a full
    compaction in which TTL expiry emptied the bucket). ``partitionBy``
    of a frame with no rows for a bucket writes no ``_bucket=<b>``
    directory (and an all-empty frame writes a generation with zero
    parquet footers), so pointing the bucket at that generation would
    make every later read fail with UNABLE_TO_INFER_SCHEMA; the marker
    records "known empty" instead, reads skip it, and the manifest
    additionally stores the committed SCHEMA so an all-empty store
    still reads back as a typed zero-row table rather than crashing.

    ``ttl_col`` names an event-time column every state row carries (the
    changelog's ``ts_ms`` is the natural choice) and ``ttl`` is the
    horizon in the same units; see the module docstring.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        n_buckets: int = DEFAULT_N_BUCKETS,
        max_generations: int = 8,
        bucket_cols: list[str] | None = None,
        ttl_col: str | None = None,
        ttl: int | None = None,
    ):
        if (ttl is None) != (ttl_col is None):
            raise ValueError("ttl and ttl_col must be given together (or neither)")
        if ttl is not None and ttl < 0:
            raise ValueError(f"ttl must be non-negative, got {ttl}")
        self.spark = spark
        self.root = root
        self.key_cols = key_cols
        # bucket assignment may use a PREFIX of the key (e.g. bucket an
        # SCD2 store keyed (user_id, event_id) by user_id alone) so all
        # rows of one entity co-locate and per-entity reads touch one
        # bucket; merge/upsert identity stays the full key_cols.
        self.bucket_cols = bucket_cols or key_cols
        self.n_buckets = n_buckets
        self.max_generations = max_generations
        self.ttl_col = ttl_col
        self.ttl = ttl
        self._io = _Fs(spark, root)
        current = self._current_manifest()
        if current is not None:
            # bucket count and bucket assignment are part of the on-disk
            # layout; honor what's stored: a store created with prefix
            # bucketing must keep it when reopened/restored, or new
            # commits would scatter an entity's rows across buckets
            self.n_buckets = int(current["n_buckets"])
            self.bucket_cols = list(current["bucket_cols"])

    # -- manifest bookkeeping -------------------------------------------------

    def _manifest_versions(self) -> list[int]:
        out = []
        for name in self._io.list_names(self._io.path()):
            if name.startswith("manifest-") and name.endswith(".json"):
                try:
                    out.append(int(name[len("manifest-") : -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def _current_manifest(self) -> dict | None:
        versions = self._manifest_versions()
        if not versions:
            return None
        return load_manifest(self._io, f"manifest-{versions[-1]}.json")

    def _watermark(self) -> int | None:
        p = self._io.path("_ttl.json")
        if not self._io.exists(p):
            return None
        return json.loads(self._io.read_text(p)).get("watermark")

    # -- reads ----------------------------------------------------------------

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(BUCKET_COL, bucket_expr(self.bucket_cols, self.n_buckets))

    def read(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Current state rows (with the bucket column), optionally
        restricted to the given bucket ids, without the rows a TTL has
        expired; None only when nothing was ever committed. Groups
        buckets by owning generation so each directory is scanned once,
        with partition pruning on ``_bucket=``."""
        manifest = self._current_manifest()
        if manifest is None:
            return None
        owned: dict[str, list[int]] = {}
        for b, gen in manifest["buckets"].items():
            b = int(b)
            if gen is None:
                continue  # empty-bucket marker: known empty, nothing to scan
            if buckets is None or b in buckets:
                owned.setdefault(gen, []).append(b)
        schema = recorded_schema(manifest)
        parts = []
        for gen, bs in sorted(owned.items()):
            # filter (not explicit partition paths): partition pruning
            # reads only the owned _bucket= dirs, and buckets this gen
            # wrote but no longer owns are excluded.
            df = read_generation(self.spark, f"{self.root}/{gen}", schema).filter(
                F.col(BUCKET_COL).isin([int(b) for b in bs])
            )
            parts.append(df)
        if not parts:
            # committed-but-empty state (every selected bucket carries
            # the empty marker, or none is owned): a typed zero-row
            # table from the manifest's committed schema
            parts = [self.spark.createDataFrame([], schema)]
        state = parts[0]
        for p in parts[1:]:
            state = state.unionByName(p)
        wm = None if self.ttl is None else self._watermark()
        if wm is None:
            return state
        # NULL event times never expire (a row without one gives the
        # horizon nothing to compare against — keep, don't guess)
        return state.filter(
            F.col(self.ttl_col).isNull() | (F.col(self.ttl_col) >= F.lit(wm - self.ttl))
        )

    # -- commits --------------------------------------------------------------

    @staticmethod
    def _present_buckets(io: _Fs, gen: str) -> set[int]:
        """Bucket ids that physically exist (as ``_bucket=<b>`` dirs)
        inside a just-written generation directory.

        A ``_bucket=`` partition whose value does not parse as an int
        (e.g. Hive's ``__HIVE_DEFAULT_PARTITION__`` from a NULL bucket
        value) is a commit-contract violation, not noise: the rows
        were physically written, but no manifest entry could ever own
        them — continuing would null-mark their bucket and silently
        orphan the data (ADVICE r15). Fail the commit loudly instead;
        ``bucket_expr`` over non-null key columns can never produce
        such a value, so this is only reachable by handing ``commit``
        a frame with a corrupted/NULL ``_bucket`` column."""
        prefix = f"{BUCKET_COL}="
        out = set()
        for name in io.list_names(io.path(gen)):
            if name.startswith(prefix):
                raw = name[len(prefix):]
                try:
                    out.add(int(raw))
                except ValueError:
                    raise ValueError(
                        f"state store: generation {gen!r} contains partition "
                        f"directory {name!r} whose bucket id is not an "
                        f"integer — the committed frame carried a NULL or "
                        f"non-integer {BUCKET_COL!r} value, and its rows "
                        f"could never be owned by a manifest entry. Bucket "
                        f"ids must come from bucket_expr() over non-null "
                        f"key columns."
                    ) from None
        return out

    def _owners(self, io: _Fs, gen: str, buckets) -> dict[str, str | None]:
        """Manifest entries for ``buckets`` after ``gen`` was written
        (commit and savepoint share the rule). partitionBy only creates
        a ``_bucket=<b>`` directory for buckets that received rows; a
        bucket with NO directory was committed empty (every key deleted
        / expired) and gets the null marker — never a directory that
        has no parquet footers for it (an ALL-empty generation has no
        footers at all and would crash every later read)."""
        present = self._present_buckets(io, gen)
        return {str(b): (gen if b in present else None) for b in buckets}

    @staticmethod
    def _schema_fingerprint(schema: StructType) -> dict[str, str]:
        """Column name → type map used for drift detection. Field ORDER
        and NULLABILITY are deliberately excluded: reads union
        generations with ``unionByName`` (order-insensitive), and
        nullability legitimately flips between a first commit's plan
        schema and later commits whose state side is a parquet
        read-back (all-nullable) — neither can corrupt a read. A
        name/type change CAN: the manifest records only the latest
        commit's schema, so a pruned read whose selected buckets are
        all empty-marked would be typed with a schema that diverges
        from rows still owned by older generations (ADVICE r15)."""
        return {f.name: f.dataType.simpleString() for f in schema.fields}

    def gen_count(self) -> int:
        manifest = self._current_manifest()
        if manifest is None:
            return 0
        return len({g for g in manifest["buckets"].values() if g is not None})

    def commit(self, df: DataFrame, touched_buckets: list[int], version: int) -> None:
        """Publish ``df`` (which must carry ``_bucket`` and contain the
        COMPLETE current rows of every bucket in ``touched_buckets``) as
        generation ``version``. Untouched buckets keep their previous
        generation via the manifest.

        Replay-safe staging: ``df`` is typically a LAZY plan that reads
        the previous state through the current manifest. On foreachBatch
        replay after a crash between manifest publish and the engine's
        checkpoint commit, that manifest already points touched buckets
        at this very version's directory — deleting it before the write
        would destroy the write's own input. So each attempt stages into
        a directory that does not exist yet (``gen-<v>``, then
        ``gen-<v>-r<k>``), never deleting a prior attempt; the manifest
        flip re-points buckets at the new attempt and ``_gc`` reaps the
        orphaned one once no retained manifest references it.

        The committed column set must be STABLE across commits (same
        names and types; order and nullability are free — see
        :meth:`_schema_fingerprint`): the manifest records only the
        latest commit's schema, and typed-empty reads are served from
        it. Drift is validated BEFORE any write and fails loudly.

        Under a TTL the generation is written UNFILTERED, then the
        watermark advances (:meth:`_advance_watermark`). Expired rows
        still leave a bucket at its next rewrite: the merge that
        produced ``df`` read prior state through the expiry-filtered
        :meth:`read`. Filtering ``df`` too would only drop rows that
        ARRIVE already expired — and when every row of the touched
        buckets is such a straggler the generation comes out physically
        EMPTY and every later read of its buckets fails. Stragglers are
        invisible to :meth:`read` anyway (the watermark is monotone) and
        are purged at their bucket's next rewrite or the next full
        compaction: a bounded space cost, never a correctness one."""
        manifest = self._current_manifest()
        # read once per commit: the store is single-writer and only
        # commit advances the watermark
        wm = None if self.ttl is None else self._watermark()
        if manifest is not None:
            prev_fp = self._schema_fingerprint(recorded_schema(manifest))
            new_fp = self._schema_fingerprint(df.schema)
            if new_fp != prev_fp:
                added = sorted(set(new_fp) - set(prev_fp))
                dropped = sorted(set(prev_fp) - set(new_fp))
                retyped = sorted(
                    c for c in set(new_fp) & set(prev_fp) if new_fp[c] != prev_fp[c]
                )
                raise ValueError(
                    f"state store at {self.root!r}: committed schema drifted "
                    f"from the store's recorded schema (added={added}, "
                    f"dropped={dropped}, "
                    f"retyped={[(c, prev_fp[c], new_fp[c]) for c in retyped]}). "
                    f"The manifest records only the latest commit's schema, "
                    f"so drift would mistype pruned empty reads against rows "
                    f"still owned by older generations; the committed column "
                    f"set must be stable for the store's lifetime. To migrate "
                    f"intentionally (ADVICE r16): savepoint() this store, read "
                    f"the snapshot, apply the column change, and commit() the "
                    f"transformed rows (all buckets) into a store at a FRESH "
                    f"root — in-place drift is never sanctioned."
                )
        gen = f"gen-{version}"
        attempt = 0
        while self._io.exists(self._io.path(gen)):
            attempt += 1
            gen = f"gen-{version}-r{attempt}"
        write_buckets(df, f"{self.root}/{gen}", "overwrite")
        owners = self._owners(self._io, gen, touched_buckets)
        buckets = {} if manifest is None else dict(manifest["buckets"])
        buckets.update(owners)
        publish_manifest(
            self._io, version, self.n_buckets, self.bucket_cols, buckets, df.schema.json()
        )
        self._gc(keep_manifests=2)
        # an ALL-empty commit (every touched bucket null-marked) wrote
        # a footerless generation: no rows, no watermark candidate
        if self.ttl is not None and gen in owners.values():
            self._advance_watermark(gen, df.schema, wm)

    def _advance_watermark(self, gen: str, schema: StructType, prev: int | None) -> None:
        """Advance ``_ttl.json`` to the max ``ttl_col`` of ``gen``, the
        generation commit just wrote (only the touched buckets' rows) —
        a bounded columnar max, not a second evaluation of the (lazy)
        merge plan. ``prev`` is the watermark read at the start of the
        commit."""
        row = (
            read_generation(self.spark, f"{self.root}/{gen}", schema)
            .agg(F.max(self.ttl_col))
            .collect()[0]
        )
        if row[0] is None or (prev is not None and prev >= row[0]):
            return  # monotone; also makes commit replay idempotent
        self._io.write_text_atomic(
            self._io.path("_ttl.json.tmp"),
            self._io.path("_ttl.json"),
            json.dumps({"watermark": int(row[0])}),
        )

    # -- savepoints -----------------------------------------------------------

    def savepoint(self, path: str) -> None:
        """Export the CURRENT state as a self-contained, immutable
        snapshot at ``path`` — the operational analog of a Flink
        savepoint (the reference configures a savepoint directory at
        StreamingJob.java:37-39; this is the trigger side).

        The snapshot is itself a valid store layout (one full
        ``gen-0`` + a ``manifest-0.json`` owning every bucket), so it
        can be opened read-only in place or restored into a fresh
        store root with :meth:`restore_from_savepoint`. The export is
        one distributed compacting read→write (partition-pruned scans
        of each owning generation, re-partitioned by bucket); nothing
        passes through the driver."""
        state = self.read()
        if state is None:
            raise ValueError(f"state store at {self.root!r} has no committed state")
        io = _Fs(self.spark, path)
        if io.exists(io.path("manifest-0.json")):
            raise ValueError(f"savepoint target {path!r} already exists")
        if io.exists(io.path("gen-0")):
            # a gen-0 with no manifest-0.json is a partial export from a
            # crashed attempt, not a savepoint; say so instead of letting
            # the errorifexists parquet write produce a confusing error
            raise ValueError(
                f"savepoint target {path!r} contains a partial gen-0 from "
                f"an interrupted export (no manifest-0.json was published); "
                f"delete the target directory and retry"
            )
        # The export itself runs OUTSIDE the cleanup handler (ADVICE r17):
        # a failure HERE is either the errorifexists precondition tripping
        # on a gen-0 that appeared after the pre-check — a concurrent
        # attempt's in-progress export (deleting it would let that winner
        # publish an all-null-marked "successful" savepoint that silently
        # restores EMPTY state) or a stranded partial (operator evidence
        # per the pre-check contract; never auto-deleted) — or this
        # attempt's own write dying midway, which is indistinguishable
        # from a concurrent export without owning the directory. So no
        # cleanup fires on a write-phase failure; a retry gets the
        # pre-check's remediation message instead of a confusing
        # errorifexists error.
        write_buckets(state, f"{path}/gen-0", "errorifexists")
        try:
            # buckets with no rows at snapshot time (including the
            # whole-store-empty case, whose gen-0 has no parquet footers)
            # get the null marker, so the savepoint stays restorable
            buckets = self._owners(io, "gen-0", range(self.n_buckets))
            publish_manifest(
                io, 0, self.n_buckets, self.bucket_cols, buckets, state.schema.json()
            )
        except BaseException:
            # A gen-0 whose manifest never publishes would otherwise be
            # stranded with no GC (ADVICE r16): the savepoint target has
            # no manifest chain, so nothing ever reaps it and a retry
            # dies on errorifexists. The export COMPLETED above, so the
            # gen-0 here is this attempt's own finished write — the
            # cleanup can no longer destroy a concurrent attempt's
            # in-progress export (ADVICE r17). Best-effort delete it —
            # guarded on the manifest NOT existing, so a published
            # savepoint can never be deleted.
            if not io.exists(io.path("manifest-0.json")):
                try:
                    io.delete(io.path("gen-0"))
                except Exception:
                    pass
            raise

    @classmethod
    def restore_from_savepoint(
        cls,
        spark: SparkSession,
        savepoint_path: str,
        root: str,
        key_cols: list[str],
        max_generations: int = 8,
    ) -> "GenerationalStateStore":
        """Materialize a savepoint into a NEW store root and return the
        store, ready to accept commits — without ever touching the
        savepoint itself (it stays a valid restore point for other
        incarnations, exactly how Flink jobs re-launch from a
        savepoint). The bucket count comes from the savepoint's
        manifest; the copy is one distributed read→write. A restored
        store starts without a TTL watermark: reopen it with
        ``ttl_col``/``ttl`` and its first commit advances one."""
        src = _Fs(spark, savepoint_path)
        manifest = load_manifest(src, "manifest-0.json")
        n_buckets = int(manifest["n_buckets"])
        dst = _Fs(spark, root)
        if dst.exists(dst.path("manifest-0.json")):
            raise ValueError(f"restore target {root!r} already has state")
        # an all-empty savepoint (every bucket null-marked) has a gen-0
        # with no parquet footers — nothing to copy, and reading it
        # would crash; the restored manifest alone carries the state
        if any(g is not None for g in manifest["buckets"].values()):
            write_buckets(
                read_generation(spark, f"{savepoint_path}/gen-0", recorded_schema(manifest)),
                f"{root}/gen-0",
                "errorifexists",
            )
        publish_manifest(
            dst, 0, n_buckets, manifest["bucket_cols"], manifest["buckets"], manifest["schema"]
        )
        return cls(spark, root, key_cols, n_buckets=n_buckets, max_generations=max_generations)

    def _gc(self, keep_manifests: int) -> None:
        """Best-effort cleanup: drop manifests older than the last
        ``keep_manifests`` and generation dirs referenced by none of
        the survivors. Crash-safe — state is published via manifests,
        so deleting unreferenced files can never lose data."""
        versions = self._manifest_versions()
        keep = versions[-keep_manifests:]
        live_gens = set()
        for v in keep:
            m = load_manifest(self._io, f"manifest-{v}.json")
            live_gens.update(g for g in m["buckets"].values() if g is not None)
        for name in self._io.list_names(self._io.path()):
            if name.startswith("manifest-") and name.endswith(".json"):
                try:
                    v = int(name[len("manifest-") : -len(".json")])
                except ValueError:
                    continue
                if v not in keep:
                    self._io.delete(self._io.path(name))
            elif name.startswith("gen-") and name not in live_gens:
                self._io.delete(self._io.path(name))
