"""GenerationalStateStore: incremental bucket rewrites, atomic
manifest publish, crash recovery, and generation compaction."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.statestore import (
    BUCKET_COL,
    GenerationalStateStore,
)

from soakopt import soak_examples


def _mk(spark, tmp_path, n_buckets=4, max_generations=8):
    return GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=n_buckets,
        max_generations=max_generations,
    )


def _commit_rows(spark, store, rows, version):
    df = store.with_bucket(spark.createDataFrame(rows, "k long, v string"))
    touched = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    # caller contract: df holds the complete current rows of touched buckets
    prev = store.read(buckets=touched)
    merged = df if prev is None else prev.unionByName(df)
    latest = merged.groupBy("k").agg(
        F.max_by(F.struct("k", "v", BUCKET_COL), F.struct(F.lit(version))).alias("s")
    ).select("s.k", "s.v", f"s.{BUCKET_COL}")
    store.commit(latest, touched, version)
    return touched


def test_batch_rewrites_only_touched_buckets(spark, tmp_path):
    store = _mk(spark, tmp_path, n_buckets=4)
    # seed all buckets
    seed = [(k, f"v{k}") for k in range(20)]
    _commit_rows(spark, store, seed, version=0)
    gen0_buckets = sorted(os.listdir(tmp_path / "state" / "gen-0"))
    assert len([d for d in gen0_buckets if d.startswith(BUCKET_COL)]) == 4

    # one key -> exactly one bucket touched
    touched = _commit_rows(spark, store, [(3, "v3-new")], version=1)
    assert len(touched) == 1
    gen1_buckets = [
        d for d in os.listdir(tmp_path / "state" / "gen-1") if d.startswith(BUCKET_COL)
    ]
    assert gen1_buckets == [f"{BUCKET_COL}={touched[0]}"]

    # manifest points untouched buckets at gen-0, touched at gen-1
    manifest = json.loads((tmp_path / "state" / "manifest-1.json").read_text())
    gens = set(manifest["buckets"].values())
    assert gens == {"gen-0", "gen-1"}
    assert manifest["buckets"][str(touched[0])] == "gen-1"

    # full read sees the update and every seed row exactly once
    out = {r["k"]: r["v"] for r in store.read().collect()}
    assert len(out) == 20 and out[3] == "v3-new" and out[4] == "v4"


def test_crash_before_manifest_publish_keeps_previous_state(spark, tmp_path):
    store = _mk(spark, tmp_path)
    _commit_rows(spark, store, [(1, "a"), (2, "b")], version=0)
    # simulate a crash mid-commit: generation written, manifest never
    # published — readers must still see version 0
    df = store.with_bucket(spark.createDataFrame([(1, "CRASH")], "k long, v string"))
    df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
        str(tmp_path / "state" / "gen-1")
    )
    fresh = _mk(spark, tmp_path)
    out = {r["k"]: r["v"] for r in fresh.read().collect()}
    assert out == {1: "a", 2: "b"}
    # replaying the batch (same version) recovers cleanly
    _commit_rows(spark, fresh, [(1, "a2")], version=1)
    out = {r["k"]: r["v"] for r in fresh.read().collect()}
    assert out == {1: "a2", 2: "b"}


def test_replay_after_manifest_publish_does_not_destroy_lazy_input(spark, tmp_path):
    """Crash window: manifest-<v> published, engine checkpoint NOT yet
    committed → foreachBatch replays batch v. The replay's merged
    DataFrame lazily reads prev state through the current manifest,
    which points the touched buckets at gen-<v> itself. commit() must
    stage the rewrite elsewhere (never delete gen-<v> pre-write), or
    the write consumes its own deleted input and state is lost."""
    store = _mk(spark, tmp_path)
    _commit_rows(spark, store, [(1, "a"), (2, "b")], version=0)
    _commit_rows(spark, store, [(1, "a2")], version=1)  # first attempt of batch 1

    # replay batch 1 exactly as run_compacted_aggregate would: prev is a
    # LAZY read through the current manifest (which references gen-1)
    replay = _mk(spark, tmp_path)
    _commit_rows(spark, replay, [(1, "a2")], version=1)

    out = {r["k"]: r["v"] for r in replay.read().collect()}
    assert out == {1: "a2", 2: "b"}
    # the replay staged into a fresh attempt dir and re-pointed the manifest
    manifest = json.loads((tmp_path / "state" / "manifest-1.json").read_text())
    bucket_1 = store.with_bucket(
        spark.createDataFrame([(1, "x")], "k long, v string")
    ).collect()[0][BUCKET_COL]
    assert manifest["buckets"][str(bucket_1)] == "gen-1-r1"
    # a third attempt picks the next free staging dir
    replay2 = _mk(spark, tmp_path)
    _commit_rows(spark, replay2, [(1, "a2")], version=1)
    assert {r["k"]: r["v"] for r in replay2.read().collect()} == {1: "a2", 2: "b"}


def test_generation_count_is_bounded_by_gc(spark, tmp_path):
    store = _mk(spark, tmp_path, n_buckets=2, max_generations=3)
    for v in range(6):
        # alternate buckets so manifests accumulate distinct gens
        _commit_rows(spark, store, [(v, f"v{v}")], version=v)
    # old manifests pruned to the last two
    manifests = sorted(
        n for n in os.listdir(tmp_path / "state") if n.startswith("manifest-")
    )
    assert manifests == ["manifest-4.json", "manifest-5.json"]
    # every row still readable
    out = {r["k"]: r["v"] for r in store.read().collect()}
    assert out == {v: f"v{v}" for v in range(6)}


def test_bucket_count_read_back_from_manifest(spark, tmp_path):
    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(1, "a")], version=0)
    # a restart configured differently must honor the stored layout
    other = GenerationalStateStore(spark, str(tmp_path / "state"), ["k"], n_buckets=99)
    assert other.n_buckets == 4


def test_savepoint_roundtrip_and_independence(spark, tmp_path):
    """A savepoint is a frozen full snapshot: restoring it into a new
    root reproduces exactly the rows at trigger time, stays a valid
    store layout in place, and later commits in either store leave
    the savepoint (and the other store) untouched."""
    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(k, f"v{k}") for k in range(10)], version=1)
    _commit_rows(spark, store, [(1, "v1b"), (3, "v3b")], version=2)

    sp = str(tmp_path / "savepoint-1")
    store.savepoint(sp)

    expected = {(r["k"], r["v"]) for r in store.read().collect()}
    assert (1, "v1b") in expected and (3, "v3b") in expected and len(expected) == 10

    # the savepoint opens read-only in place as a store
    frozen = GenerationalStateStore(spark, sp, ["k"], n_buckets=4)
    assert {(r["k"], r["v"]) for r in frozen.read().collect()} == expected

    # restore into a fresh root; diverge it; savepoint + source intact
    restored = GenerationalStateStore.restore_from_savepoint(
        spark, sp, str(tmp_path / "state2"), ["k"]
    )
    assert {(r["k"], r["v"]) for r in restored.read().collect()} == expected
    _commit_rows(spark, restored, [(5, "DIVERGED")], version=3)
    assert ("5", "DIVERGED") not in {
        tuple(r) for r in frozen.read().select("k", "v").collect()
    }
    assert {(r["k"], r["v"]) for r in store.read().collect()} == expected

    # double-savepoint to the same path refuses
    import pytest as _pytest

    with _pytest.raises(ValueError):
        store.savepoint(sp)


def test_bucket_cols_read_back_from_manifest(spark, tmp_path):
    """Prefix bucketing is part of the on-disk layout: a store created
    bucketed by a key prefix must keep that assignment when reopened
    with different (or default) bucket_cols, or new commits would
    scatter an entity's rows across buckets."""
    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k", "seq"], n_buckets=4,
        bucket_cols=["k"],
    )
    df = store.with_bucket(
        spark.createDataFrame([(1, 10, "a"), (1, 20, "b")], "k long, seq long, v string")
    )
    # one entity, bucketed by prefix -> exactly one bucket touched
    touched = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    assert len(touched) == 1
    store.commit(df, touched, version=0)

    reopened = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k", "seq"], n_buckets=4
    )
    assert reopened.bucket_cols == ["k"]
    df2 = reopened.with_bucket(
        spark.createDataFrame([(1, 30, "c")], "k long, seq long, v string")
    )
    assert [r[0] for r in df2.select(BUCKET_COL).distinct().collect()] == touched


def _strip_manifest_key(root, name, key):
    """Rewrite manifest ``name`` under ``root`` without ``key``; the
    hadoop local-fs checksum sidecar would no longer match, so it goes."""
    path = os.path.join(root, name)
    manifest = json.loads(open(path).read())
    manifest.pop(key)
    open(path, "w").write(json.dumps(manifest))
    crc = os.path.join(root, f".{name}.crc")
    if os.path.exists(crc):
        os.remove(crc)


@pytest.mark.parametrize("key", ["schema", "bucket_cols"])
def test_reopen_refuses_manifest_missing_a_key(spark, tmp_path, key):
    """Every manifest the store writes records n_buckets, bucket_cols,
    buckets and schema. Reopening a store whose latest manifest lacks
    one fails loudly, naming the file and the key, rather than guessing
    a layout (full-key bucketing) or inferring a schema from footers."""
    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(1, "a"), (2, "b")], version=0)
    _strip_manifest_key(str(tmp_path / "state"), "manifest-0.json", key)
    with pytest.raises(ValueError, match=rf"manifest-0\.json lacks \['{key}'\]"):
        _mk(spark, tmp_path, n_buckets=4)


def test_restore_refuses_savepoint_manifest_without_bucket_cols(spark, tmp_path):
    """restore_from_savepoint loads the savepoint's manifest through the
    same check: one without bucket_cols is refused before anything is
    copied, instead of being restored as full-key bucketing."""
    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(1, "a")], version=0)
    sp = str(tmp_path / "sp")
    store.savepoint(sp)
    _strip_manifest_key(sp, "manifest-0.json", "bucket_cols")
    with pytest.raises(ValueError, match=r"manifest-0\.json lacks \['bucket_cols'\]"):
        GenerationalStateStore.restore_from_savepoint(
            spark, sp, str(tmp_path / "state2"), ["k"]
        )
    assert not (tmp_path / "state2").exists()


# ---------------------------------------------------------------- TTL knob


def _ttl_commit(spark, store, rows, version):
    """Merge-commit helper for TTL tests: complete-bucket contract via
    store.read (which, on a TTL store, is the EXPIRY-FILTERED view —
    exactly what a foreachBatch merge would see)."""
    df = store.with_bucket(spark.createDataFrame(rows, "k long, v string, ts long"))
    touched = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    prev = store.read(buckets=touched)
    merged = df if prev is None else prev.unionByName(df)
    latest = merged.groupBy("k").agg(
        # max_by skips NULL ordering keys entirely — coalesce so a row
        # with no event time still survives the merge (it sorts first)
        F.max_by(
            F.struct("k", "v", "ts", BUCKET_COL),
            F.coalesce(F.col("ts"), F.lit(-(1 << 62))),
        ).alias("s")
    ).select("s.k", "s.v", "s.ts", f"s.{BUCKET_COL}")
    store.commit(latest, touched, version)


def test_ttl_none_behaves_exactly_like_base_store(spark, tmp_path):
    """VERDICT r10 #8 regression: the default (ttl=None) keeps the
    reference's idle-state-retention-0 semantics — a row whose event
    time falls far behind the max stays visible, and no _ttl.json is
    ever written to the store root. ttl without ttl_col is refused."""
    store = GenerationalStateStore(spark, str(tmp_path / "base"), ["k"], n_buckets=4)
    steps = [
        ([(1, "a", 0), (2, "b", 50)], 0),
        ([(2, "b2", 200)], 1),
        ([(3, "c", 10)], 2),  # ts far behind the max: must stay visible
    ]
    for rows, v in steps:
        _ttl_commit(spark, store, rows, v)
    rows = {tuple(r) for r in store.read().drop(BUCKET_COL).collect()}
    assert rows == {(1, "a", 0), (2, "b2", 200), (3, "c", 10)}
    assert store._watermark() is None
    assert not os.path.exists(tmp_path / "base" / "_ttl.json")
    with pytest.raises(ValueError, match="together"):
        GenerationalStateStore(spark, str(tmp_path / "bad"), ["k"], ttl=100)


def test_ttl_expires_hides_then_drops_and_resurrects(spark, tmp_path):
    """Event-time expiry end to end: a key idle past the horizon goes
    invisible as soon as the watermark passes it (even in untouched
    buckets), is physically dropped when its bucket is next rewritten,
    and a later change to that key lands as a fresh INSERT (the
    resurrect contract). The watermark survives a store reopen."""
    root = str(tmp_path / "state")
    store = GenerationalStateStore(spark, root, ["k"], n_buckets=4, ttl_col="ts", ttl=100)
    _ttl_commit(spark, store, [(1, "a", 0), (2, "b", 50)], 0)
    # watermark 50: nothing older than -50, both visible
    assert {r["k"] for r in store.read().collect()} == {1, 2}
    _ttl_commit(spark, store, [(2, "b2", 200)], 1)
    # watermark 200: key 1 (ts=0 < 100) is expired and hidden even if
    # batch 1 never touched its bucket
    vis = {(r["k"], r["v"]) for r in store.read().collect()}
    assert vis == {(2, "b2")}
    # resurrect: a change to key 1 merges against NO prior state (the
    # read is filtered) and lands as a fresh insert
    _ttl_commit(spark, store, [(1, "reborn", 250)], 2)
    vis = {(r["k"], r["v"], r["ts"]) for r in store.read().collect()}
    assert vis == {(1, "reborn", 250), (2, "b2", 200)}
    # physical drop: the generation that rewrote key 1's bucket holds
    # only the reborn row for k=1 — the ts=0 row did not ride along
    gen2 = spark.read.parquet(os.path.join(root, "gen-2"))
    assert [(r["k"], r["ts"]) for r in gen2.filter("k = 1").collect()] == [(1, 250)]
    # watermark persists across reopen; filtering still applies
    reopened = GenerationalStateStore(spark, root, ["k"], n_buckets=4, ttl_col="ts", ttl=100)
    assert reopened._watermark() == 250
    assert {r["k"] for r in reopened.read().collect()} == {1, 2}
    # a NULL event time never expires
    _ttl_commit(spark, reopened, [(4, "no-ts", None)], 3)
    assert (4, "no-ts") in {(r["k"], r["v"]) for r in reopened.read().collect()}


def test_ttl_savepoint_restore_starts_without_watermark(spark, tmp_path):
    """Savepoint → restore under a TTL: the savepoint exports the
    expiry-filtered state and carries no watermark, so the restored
    root has no _ttl.json; reopened with ttl_col/ttl, its first commit
    re-advances the watermark, and a key that expired before the
    savepoint does not come back — a change to it lands as a fresh
    insert."""
    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=4, ttl_col="ts", ttl=100
    )
    _ttl_commit(spark, store, [(1, "a", 0), (2, "b", 50)], 0)
    _ttl_commit(spark, store, [(2, "b2", 200)], 1)  # watermark 200 expires key 1
    assert store._watermark() == 200
    sp = str(tmp_path / "sp")
    store.savepoint(sp)

    root = str(tmp_path / "restored")
    GenerationalStateStore.restore_from_savepoint(spark, sp, root, ["k"])
    restored = GenerationalStateStore(spark, root, ["k"], n_buckets=4, ttl_col="ts", ttl=100)
    assert restored._watermark() is None
    assert not os.path.exists(os.path.join(root, "_ttl.json"))
    # no watermark yet filters nothing, and key 1 is still gone
    assert {(r["k"], r["v"]) for r in restored.read().collect()} == {(2, "b2")}
    key1 = restored.with_bucket(spark.createDataFrame([(1, "x", 0)], "k long, v string, ts long"))
    b1 = key1.select(BUCKET_COL).first()[0]
    assert restored.read(buckets=[b1]).filter("k = 1").count() == 0  # the merge's prior view

    _ttl_commit(spark, restored, [(1, "reborn", 210)], 1)
    assert restored._watermark() == 210
    assert {(r["k"], r["v"], r["ts"]) for r in restored.read().collect()} == {
        (1, "reborn", 210), (2, "b2", 200)
    }


def test_ttl_store_through_a_real_stream(spark, tmp_path):
    """The TTL knob composes with the engine: a foreachBatch merge
    into a TTL store across two mtime-ordered micro-batches —
    batch 2's watermark expires a key last updated in batch 1, and
    the expiry decision comes from COMMITTED state metadata, not
    intra-batch context."""
    import json as _json

    d = tmp_path / "ttl_src"
    d.mkdir()
    (d / "b1.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"k": 1, "v": "one", "ts": 0},
                {"k": 2, "v": "two", "ts": 80},
            ]
        )
        + "\n"
    )
    (d / "b2.json").write_text(_json.dumps({"k": 3, "v": "three", "ts": 200}) + "\n")
    now = 1_700_000_000
    os.utime(d / "b1.json", (now - 60, now - 60))
    os.utime(d / "b2.json", (now, now))

    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=4, ttl_col="ts", ttl=100
    )

    def merge(batch, batch_id):
        batch = store.with_bucket(batch)
        touched = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return
        prev = store.read(buckets=touched)
        merged = batch if prev is None else prev.unionByName(batch)
        latest = merged.groupBy("k").agg(
            F.max_by(F.struct("k", "v", "ts", BUCKET_COL), "ts").alias("s")
        ).select("s.k", "s.v", "s.ts", f"s.{BUCKET_COL}")
        store.commit(latest, touched, batch_id)

    stream = (
        spark.readStream.schema("k long, v string, ts long")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        stream.writeStream.foreachBatch(merge)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # watermark 200 after batch 2 -> horizon 100: k=1 (ts 0) and
    # k=2 (ts 80) both expired by committed metadata; only k=3 lives
    vis = {(r["k"], r["v"]) for r in store.read().collect()}
    assert vis == {(3, "three")}
    assert store._watermark() == 200


def test_ttl_savepoint_excludes_expired_rows(spark, tmp_path):
    """A savepoint of a TTL store is taken through read() — so expired
    keys do not ride into the snapshot, and a base-store restore of it
    (the knob is opt-in per store, not per layout) starts from exactly
    the live set."""
    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=4, ttl_col="ts", ttl=100
    )
    _ttl_commit(spark, store, [(1, "old", 0), (2, "new", 200)], 0)
    # watermark 200 -> horizon 100: k=1 expired
    sp = str(tmp_path / "sp")
    store.savepoint(sp)
    restored = GenerationalStateStore.restore_from_savepoint(
        spark, sp, str(tmp_path / "state2"), ["k"]
    )
    assert {(r["k"], r["v"]) for r in restored.read().collect()} == {(2, "new")}


def test_ttl_watermark_read_back_is_bucket_scoped_per_generation(spark, tmp_path):
    """The commit-time watermark advance reads back ONLY the
    generation just written — one pruned scan of one directory, which
    physically holds only the touched buckets' rows. (ADVICE r12
    removed the dead per-generation grouping here: immediately after
    commit, the manifest maps every touched bucket to that one
    generation, an invariant the commit now asserts.) Rows that older
    generations' directories still physically hold for buckets they
    have since lost never feed the max, and multi-generation layouts
    keep producing the exact monotone watermark."""
    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=4, ttl_col="ts", ttl=10_000
    )
    _ttl_commit(spark, store, [(k, f"v{k}", 100 * k) for k in range(1, 9)], 0)
    assert store._watermark() == 800
    # rewrite one key's bucket: gen-1 owns only that bucket, while
    # gen-0's directory still physically holds every original row —
    # reading back gen-1 alone must not regress the watermark
    _ttl_commit(spark, store, [(1, "v1b", 150)], 1)
    assert store._watermark() == 800  # monotone: 150 < 800 advances nothing
    # a commit spanning buckets previously owned by different
    # generations: post-commit both belong to the new generation and
    # its directory alone carries the new max
    _ttl_commit(spark, store, [(1, "v1c", 900), (2, "v2b", 50)], 2)
    assert store._watermark() == 900


def test_ttl_commit_reads_watermark_exactly_once(spark, tmp_path):
    """One commit consults the persisted watermark file exactly once
    (it is read up-front and threaded through the expiry filter and
    the monotone advance) — the store is single-writer, so re-reads
    inside one commit were pure redundant tiny-file I/O."""
    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=4, ttl_col="ts", ttl=100
    )
    _ttl_commit(spark, store, [(1, "a", 0), (2, "b", 50)], 0)

    calls = {"n": 0}
    orig = GenerationalStateStore._watermark

    def counting(self):
        calls["n"] += 1
        return orig(self)

    GenerationalStateStore._watermark = counting
    try:
        df = store.with_bucket(
            spark.createDataFrame([(1, "a2", 120)], "k long, v string, ts long")
        )
        touched = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
        store.commit(df, touched, 1)
    finally:
        GenerationalStateStore._watermark = orig
    assert calls["n"] == 1
    assert store._watermark() == 120


def test_ttl_store_matches_pure_python_model_property(spark, tmp_path):
    """Cross-implementation property pin for event-time TTL: random
    event histories (keys × distinct event times, optional no-ts rows,
    late arrivals) split across random micro-batch boundaries, merged
    through a TTL store, must match a ~20-line pure-Python replay
    of the contract: wm_k = max committed event time; state expired at
    a merge when ts < wm - ttl (it neither seeds the merge nor rides
    the rewrite); no-ts rows never expire; final visibility is
    ts >= wm_final - ttl. This test's original falsifying example —
    an all-late batch whose commit-time filter produced a physically
    EMPTY, schema-less generation that broke every later read — is
    why commits now write the batch unfiltered (see
    GenerationalStateStore.commit) and is pinned separately below."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    def model(batches, ttl):
        wm = None
        state = {}  # k -> (v, ts)
        for batch in batches:
            horizon = None if wm is None else wm - ttl
            keys = {k for k, _, _ in batch}
            for k in keys:
                cand = [(v, ts) for kk, v, ts in batch if kk == k]
                s = state.get(k)
                if s is not None and (
                    s[1] is None or horizon is None or s[1] >= horizon
                ):
                    cand.append(s)
                state[k] = max(
                    cand, key=lambda r: -(1 << 62) if r[1] is None else r[1]
                )
            # already-expired arrivals are WRITTEN (hidden forever by
            # the visibility filter): their ts is below wm, so they
            # also never advance the watermark
            committed = [state[k][1] for k in keys if state[k][1] is not None]
            if committed:
                wm = max(committed) if wm is None else max(wm, max(committed))
        if wm is None:
            return dict(state), None
        vis = {
            k: (v, ts)
            for k, (v, ts) in state.items()
            if ts is None or ts >= wm - ttl
        }
        return vis, wm

    events = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # key
            st.integers(min_value=0, max_value=30),         # ts (or None below)
        ),
        min_size=1,
        max_size=10,
        unique=True,  # distinct (k, ts): no merge ties
    )
    seq = {"n": 0}

    @given(
        events,
        st.lists(st.integers(min_value=0, max_value=2), min_size=10, max_size=10),
        st.integers(min_value=2, max_value=12),
        st.integers(min_value=0, max_value=3),
    )
    @settings(
        max_examples=soak_examples(6),
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(evs, batch_of, ttl, none_key):
        rows = []
        seen_none = False
        for i, (k, ts) in enumerate(evs):
            if not seen_none and k == none_key:
                rows.append((k, f"v{k}:none", None, batch_of[i]))
                seen_none = True
            else:
                rows.append((k, f"v{k}:{ts}", ts, batch_of[i]))
        batches = [
            [(k, v, ts) for k, v, ts, b in rows if b == bi] for bi in range(3)
        ]
        batches = [b for b in batches if b]
        seq["n"] += 1
        root = str(tmp_path / f"m{seq['n']}")  # fresh store per example
        store = GenerationalStateStore(
            spark, root, ["k"], n_buckets=4, ttl_col="ts", ttl=ttl
        )
        for v, batch in enumerate(batches):
            _ttl_commit(spark, store, batch, v)
        expect, wm = model(batches, ttl)
        got = {r["k"]: (r["v"], r["ts"]) for r in store.read().collect()}
        assert got == expect, (batches, ttl, got, expect)
        assert store._watermark() == wm

    check()


def test_ttl_all_late_batch_never_publishes_unreadable_generation(spark, tmp_path):
    """Deterministic pin of the property test's falsifying example: a
    micro-batch consisting ENTIRELY of rows already expired under the
    committed watermark. The original commit-time expiry filter wrote
    that generation with zero rows — zero parquet files, no schema to
    infer — and every later read touching a bucket it owned failed
    with UNABLE_TO_INFER_SCHEMA (including the very next merge's
    prev-read, so the pipeline could never self-heal). Commits now
    write the batch unfiltered: the straggler stays invisible and is
    dropped on the bucket's next rewrite."""
    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=4, ttl_col="ts", ttl=2
    )
    _ttl_commit(spark, store, [(0, "v0:3", 3)], 0)  # watermark -> 3
    _ttl_commit(spark, store, [(1, "v1:0", 0)], 1)  # every row late-expired
    # the straggler is invisible (ts 0 < 3 - 2) and never advanced the
    # watermark; the store — including gen-1's bucket — stays readable
    assert {(r["k"], r["ts"]) for r in store.read().collect()} == {(0, 3)}
    assert store._watermark() == 3
    # a later change for the late key still lands as a fresh insert
    # and rewrites the straggler away
    _ttl_commit(spark, store, [(1, "reborn", 4)], 2)
    assert {(r["k"], r["v"]) for r in store.read().collect()} == {
        (0, "v0:3"),
        (1, "reborn"),
    }
    assert store._watermark() == 4


def test_ttl_store_with_tombstones_matches_pure_python_model_property(spark, tmp_path):
    """VERDICT r12 #4's alphabet extension: the TTL model property
    with DELETES in the event alphabet. Tombstones are state rows
    like any other under the `drop_deletes=False` contract the
    compaction pipeline uses — they merge by event time, they expire
    by the same horizon, their committed event times advance the
    watermark, and the LIVE view (what the pipeline's aggregate sees)
    is the visible view minus op='d' rows. Random histories of
    (key, ts, op) events split across random micro-batch boundaries
    must match the pure-Python replay on BOTH views and the persisted
    watermark — pinning that a tombstone for an expired key does not
    resurrect anything and that an expired tombstone drops out of the
    visible view exactly at its horizon."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    def commit_ops(store, rows, version):
        df = store.with_bucket(
            spark.createDataFrame(rows, "k long, v string, ts long, op string")
        )
        touched = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
        prev = store.read(buckets=touched)
        merged = df if prev is None else prev.unionByName(df)
        latest = merged.groupBy("k").agg(
            F.max_by(
                F.struct("k", "v", "ts", "op", BUCKET_COL),
                F.coalesce(F.col("ts"), F.lit(-(1 << 62))),
            ).alias("s")
        ).select("s.k", "s.v", "s.ts", "s.op", f"s.{BUCKET_COL}")
        store.commit(latest, touched, version)

    def model(batches, ttl):
        wm = None
        state = {}  # k -> (v, ts, op)
        for batch in batches:
            horizon = None if wm is None else wm - ttl
            keys = {k for k, _, _, _ in batch}
            for k in keys:
                cand = [(v, ts, op) for kk, v, ts, op in batch if kk == k]
                s = state.get(k)
                if s is not None and (
                    s[1] is None or horizon is None or s[1] >= horizon
                ):
                    cand.append(s)
                state[k] = max(
                    cand, key=lambda r: -(1 << 62) if r[1] is None else r[1]
                )
            committed = [state[k][1] for k in keys if state[k][1] is not None]
            if committed:
                wm = max(committed) if wm is None else max(wm, max(committed))
        if wm is None:
            horizon = None
        else:
            horizon = wm - ttl
        visible = {
            k: (v, ts, op)
            for k, (v, ts, op) in state.items()
            if horizon is None or ts is None or ts >= horizon
        }
        live = {k: r for k, r in visible.items() if r[2] != "d"}
        return visible, live, wm

    events = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=30),  # ts
            st.booleans(),                           # is_delete
        ),
        min_size=1,
        max_size=10,
        unique_by=lambda e: (e[0], e[1]),  # distinct (k, ts): no merge ties
    )
    seq = {"n": 0}

    @given(
        events,
        st.lists(st.integers(min_value=0, max_value=2), min_size=10, max_size=10),
        st.integers(min_value=2, max_value=12),
    )
    @settings(
        max_examples=soak_examples(6),
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(evs, batch_of, ttl):
        rows = [
            (k, f"v{k}:{ts}", ts, "d" if is_del else "u")
            for (k, ts, is_del) in evs
        ]
        batches = [
            [r for r, b in zip(rows, batch_of) if b == bi] for bi in range(3)
        ]
        batches = [b for b in batches if b]
        seq["n"] += 1
        root = str(tmp_path / f"d{seq['n']}")  # fresh store per example
        store = GenerationalStateStore(
            spark, root, ["k"], n_buckets=4, ttl_col="ts", ttl=ttl
        )
        for v, batch in enumerate(batches):
            commit_ops(store, batch, v)
        expect_visible, expect_live, wm = model(batches, ttl)
        got = {r["k"]: (r["v"], r["ts"], r["op"]) for r in store.read().collect()}
        assert got == expect_visible, (batches, ttl, got, expect_visible)
        got_live = {k: r for k, r in got.items() if r[2] != "d"}
        assert got_live == expect_live
        assert store._watermark() == wm

    check()


def test_ttl_commit_reads_back_exactly_one_generation(spark, tmp_path):
    """The ADVICE r12 simplification's contract: the commit-time
    watermark advance is ONE parquet scan of exactly the generation
    just written — even on a store whose manifest spans several
    generations (the case the removed code dead-handled). Counted by
    intercepting the session's parquet reads during commit."""
    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=4, ttl_col="ts", ttl=10_000
    )
    # build a multi-generation layout: 8 keys across 4 buckets, then
    # single-bucket rewrites so older generations keep owning buckets
    _ttl_commit(spark, store, [(k, f"v{k}", 100 * k) for k in range(1, 9)], 0)
    _ttl_commit(spark, store, [(1, "v1b", 150)], 1)
    assert store.gen_count() > 1

    reads = []
    orig = type(spark.read).parquet

    def counting(self, *paths):
        reads.extend(paths)
        return orig(self, *paths)

    type(spark.read).parquet = counting
    try:
        df = store.with_bucket(
            spark.createDataFrame([(1, "v1c", 900), (2, "v2b", 50)], "k long, v string, ts long")
        )
        touched = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
        prev = store.read(buckets=touched)
        merged = prev.unionByName(df) if prev is not None else df
        latest = merged.groupBy("k").agg(
            F.max_by(F.struct("k", "v", "ts", BUCKET_COL), F.col("ts")).alias("s")
        ).select("s.k", "s.v", "s.ts", f"s.{BUCKET_COL}")
        n_before_commit = len(reads)
        store.commit(latest, touched, 2)
    finally:
        type(spark.read).parquet = orig
    post_commit_reads = reads[n_before_commit:]
    # exactly one read-back, and it targets the just-written generation
    assert len(post_commit_reads) == 1, post_commit_reads
    new_gen = {store._current_manifest()["buckets"][str(b)] for b in touched}.pop()
    assert post_commit_reads[0].endswith(new_gen), (post_commit_reads, new_gen)
    assert store._watermark() == 900


def test_statestore_reads_are_partition_pruned_to_owned_buckets(spark, tmp_path):
    """Plan pin for the scale claim behind the generational layout —
    per-batch read I/O is O(touched buckets), not O(total state): a
    bucket-scoped read compiles to a FileScan whose PartitionFilters
    carry the `_bucket` predicate, so only the owned `_bucket=`
    directories are listed and read. (The TTL watermark read-back no
    longer needs this shape — since the ADVICE r12 simplification it
    scans exactly the one directory the commit just wrote, which
    holds only the touched buckets' rows by construction.)"""
    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(k, f"v{k}") for k in range(20)], version=0)
    df = store.read(buckets=[1])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert BUCKET_COL in plan.split("PartitionFilters", 1)[1][:200], plan


def test_commit_writes_one_file_per_bucket(spark, tmp_path):
    """Rows are clustered by bucket before the partitioned write, so a
    generation holds one parquet file per bucket however many tasks
    produced the committed frame (here 8 round-robin partitions, each
    holding rows of every bucket)."""
    store = _mk(spark, tmp_path, n_buckets=4)
    rows = spark.createDataFrame([(k, f"v{k}") for k in range(200)], "k long, v string")
    store.commit(store.with_bucket(rows.repartition(8)), list(range(4)), version=0)
    gen = tmp_path / "state" / "gen-0"
    bucket_dirs = sorted(p for p in gen.iterdir() if p.name.startswith(f"{BUCKET_COL}="))
    assert len(bucket_dirs) == 4
    for d in bucket_dirs:
        assert len([f for f in d.iterdir() if f.name.endswith(".parquet")]) == 1, d


def _assert_fires_no_spark_job(spark, action, control_dir):
    """Run ``action`` in a job group of its own and assert it fired no
    Spark job. A control read of ``control_dir`` afterwards infers a
    schema in a second group; once the status tracker has seen that
    job, it has seen every earlier one, so the empty first group is not
    a listener-bus lag."""
    import time

    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    try:
        sc.setJobGroup("test-statestore-declared", "no job expected")
        action()
        sc.setJobGroup("test-statestore-inferred", "control: schema inference")
        spark.read.parquet(str(control_dir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("test-statestore-inferred"):
        assert time.monotonic() < deadline, "control read fired no job"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("test-statestore-declared") == []


def test_read_with_recorded_schema_fires_no_spark_job(spark, tmp_path):
    """read() takes the schema the manifest records instead of
    inferring it from parquet footers, so building the state frame
    runs no job."""
    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(k, f"v{k}") for k in range(20)], version=0)
    _commit_rows(spark, store, [(1, "w1")], version=1)
    assert store.gen_count() == 2  # the read unions two generations

    def reads():
        store.read()
        store.read(buckets=[0, 1])

    _assert_fires_no_spark_job(spark, reads, tmp_path / "state" / "gen-0")
    assert {(r["k"], r["v"]) for r in store.read().collect()} == (
        {(k, f"v{k}") for k in range(20) if k != 1} | {(1, "w1")}
    )


def test_full_read_of_default_store_fires_no_listing_job(spark, tmp_path):
    """A store at the default bucket count has at most 8 ``_bucket=``
    dirs per generation, under the 32 above which Spark lists a
    directory with a Spark job of its own
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``), so a
    full read() with every bucket owned lists serially and fires no
    job."""
    store = GenerationalStateStore(spark, str(tmp_path / "state"), ["k"])
    _commit_rows(spark, store, [(k, f"v{k}") for k in range(1000)], version=0)
    buckets = store._current_manifest()["buckets"]
    assert len(buckets) == store.n_buckets
    assert set(buckets.values()) == {"gen-0"}  # every bucket owned
    _assert_fires_no_spark_job(spark, store.read, tmp_path / "state" / "gen-0")
    assert store.read().count() == 1000


def test_ttl_commit_takes_the_written_generation_without_a_manifest_reread(
    spark, tmp_path, monkeypatch
):
    """commit knows the generation it wrote, so the TTL watermark
    advance reads that generation back without loading the manifest it
    just published: a TTL commit loads the current manifest once (for
    its drift check) and still moves ``_ttl.json`` to the written
    generation's max ``ttl_col``; an all-empty commit wrote no rows and
    reads nothing back."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import statestore as ss

    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=4, ttl_col="ts", ttl=100
    )
    _ttl_commit(spark, store, [(1, "a", 10), (2, "b", 20)], 0)
    df = store.with_bucket(
        spark.createDataFrame([(1, "a2", 50), (2, "b", 20)], "k long, v string, ts long")
    )
    touched = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    empty = store.with_bucket(spark.createDataFrame([], "k long, v string, ts long"))
    loads, readbacks = [], []
    real_manifest, real_read = store._current_manifest, ss.read_generation

    def counting_manifest():
        loads.append(1)
        return real_manifest()

    def counting_read(spark_, path, schema):
        readbacks.append(path)
        return real_read(spark_, path, schema)

    monkeypatch.setattr(store, "_current_manifest", counting_manifest)
    monkeypatch.setattr(ss, "read_generation", counting_read)
    store.commit(df, touched, version=1)
    assert len(loads) == 1
    assert len(readbacks) == 1 and readbacks[0].endswith("/gen-1"), readbacks
    assert store._watermark() == 50
    loads.clear()
    readbacks.clear()
    store.commit(empty, list(range(4)), version=2)
    assert len(loads) == 1
    assert readbacks == []
    assert store._watermark() == 50


# --------------------------------------- empty-bucket manifest markers (r15)


def test_commit_marks_emptied_buckets_null_and_read_skips_them(spark, tmp_path):
    """VERDICT r14 #1 at the STORE level: a commit whose touched
    buckets include one that received zero rows (every key deleted)
    must null-mark that bucket in the manifest — never point it at a
    generation directory holding no data for it — and reads must skip
    the marker. Here: seed two buckets, then rewrite BOTH declaring
    them touched while the new frame only carries rows for one."""
    store = _mk(spark, tmp_path, n_buckets=4)
    seed = store.with_bucket(spark.createDataFrame([(k, f"v{k}") for k in range(8)], "k long, v string"))
    touched = sorted(r[0] for r in seed.select(BUCKET_COL).distinct().collect())
    assert len(touched) > 1  # the scenario needs at least two buckets
    store.commit(seed, touched, version=0)
    keep_bucket = touched[0]
    survivor = seed.filter(F.col(BUCKET_COL) == keep_bucket)
    store.commit(survivor, touched, version=1)
    manifest = json.loads((tmp_path / "state" / "manifest-1.json").read_text())
    assert manifest["buckets"][str(keep_bucket)] == "gen-1"
    for b in touched[1:]:
        assert manifest["buckets"][str(b)] is None  # the empty marker
    # gen_count ignores markers (they reference no directory)
    assert store.gen_count() == 1
    # full read returns exactly the surviving bucket's rows
    got = {(r["k"], r["v"]) for r in store.read().collect()}
    want = {(r["k"], r["v"]) for r in survivor.collect()}
    assert got == want and got
    # a pruned read of an emptied bucket is a typed zero-row table
    emptied = store.read(buckets=[touched[1]])
    assert emptied is not None and emptied.count() == 0
    assert {f.name for f in emptied.schema.fields} == {"k", "v", BUCKET_COL}


def test_all_empty_commit_reads_typed_empty_and_store_stays_writable(spark, tmp_path):
    """The r14 falsifying class at the store level: committing a frame
    with ZERO rows over every bucket (the empty-refresh shape) writes
    a footerless generation; the manifest's null markers + committed
    schema must keep the store readable (typed empty) AND writable."""
    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(1, "a"), (2, "b")], version=0)
    empty = store.with_bucket(spark.createDataFrame([], "k long, v string"))
    store.commit(empty, list(range(4)), version=1)
    out = store.read()
    assert out is not None and out.count() == 0
    assert {f.name for f in out.schema.fields} == {"k", "v", BUCKET_COL}
    # markers are re-entrant: repopulate, then empty again
    _commit_rows(spark, store, [(3, "c")], version=2)
    assert {(r["k"], r["v"]) for r in store.read().collect()} == {(3, "c")}
    store.commit(
        store.with_bucket(spark.createDataFrame([], "k long, v string")),
        list(range(4)),
        version=3,
    )
    assert store.read().count() == 0


def test_savepoint_and_restore_of_emptied_store(spark, tmp_path):
    """An all-empty store must savepoint and restore without crashing
    on the footerless snapshot: both sides carry the null markers and
    the schema, and the restored store accepts commits."""
    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(1, "a")], version=0)
    store.commit(
        store.with_bucket(spark.createDataFrame([], "k long, v string")),
        list(range(4)),
        version=1,
    )
    sp = str(tmp_path / "sp-empty")
    store.savepoint(sp)
    frozen = GenerationalStateStore(spark, sp, ["k"], n_buckets=4)
    assert frozen.read() is not None and frozen.read().count() == 0
    restored = GenerationalStateStore.restore_from_savepoint(
        spark, sp, str(tmp_path / "state2"), ["k"]
    )
    assert restored.read() is not None and restored.read().count() == 0
    _commit_rows(spark, restored, [(7, "back")], version=2)
    assert {(r["k"], r["v"]) for r in restored.read().collect()} == {(7, "back")}
    # the savepoint itself stays frozen-empty
    assert frozen.read().count() == 0


def test_ttl_all_empty_commit_skips_watermark_readback(spark, tmp_path):
    """TTL watermark read-back over an all-empty commit: every touched
    bucket carries the marker, so there is no generation to scan — the
    read-back must be skipped (no crash) and the watermark unchanged."""
    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=4, ttl_col="ts", ttl=5
    )
    _ttl_commit(spark, store, [(1, "v1", 10)], 0)
    assert store._watermark() == 10
    empty = store.with_bucket(spark.createDataFrame([], "k long, v string, ts long"))
    store.commit(empty, list(range(4)), version=1)
    assert store._watermark() == 10  # unchanged, and no schema-inference crash
    assert store.read().count() == 0
    # state resumes normally afterwards
    _ttl_commit(spark, store, [(2, "v2", 12)], 2)
    assert store._watermark() == 12
    assert {(r["k"], r["v"]) for r in store.read().collect()} == {(2, "v2")}


def test_generational_store_matches_pure_python_model_property(spark, tmp_path):
    """VERDICT r14 #6: model-based property over the generational
    manifest/compaction machinery itself (the TTL watermark property
    exists; this one drives the BASE store's commit/read/reopen/
    compaction protocol). Random schedules of merge-commits,
    empty-refresh commits (the r15 marker path), caller-driven full
    compactions at the max_generations threshold (the ParquetUpsertSink
    / run_compacted_aggregate protocol), and store reopens are replayed
    against a pure-Python dict; after every schedule the full read, a
    per-bucket pruned read, and the generation-count bound must all
    match the model."""
    import uuid as _uuid

    from hypothesis import given, settings
    from hypothesis import strategies as st

    ops = st.lists(
        st.one_of(
            st.tuples(
                st.just("commit"),
                st.lists(
                    st.tuples(st.integers(0, 9), st.integers(0, 99)),
                    min_size=0, max_size=4,
                    unique_by=lambda t: t[0],
                ),
            ),
            st.tuples(st.just("empty_refresh"), st.just(None)),
            st.tuples(st.just("reopen"), st.just(None)),
            st.tuples(
                st.just("partial"),  # crash mid-commit: generation
                # written, manifest NEVER published — committed state
                # must be untouched and later commits must stage around
                # the orphan (gen-<v>-r<k>) exactly like a real replay
                st.lists(
                    st.tuples(st.integers(0, 9), st.integers(0, 99)),
                    min_size=0, max_size=3,
                    unique_by=lambda t: t[0],
                ),
            ),
            # r16 guard ops, composed into the schedule space: both
            # must raise and leave committed state untouched (model:
            # no-op), at ANY point of any schedule
            st.tuples(st.just("drift"), st.sampled_from(["rename", "retype"])),
            st.tuples(st.just("nullbucket"), st.just(None)),
        ),
        min_size=1,
        max_size=6,
    )

    @given(ops)
    @settings(max_examples=soak_examples(8), deadline=None)
    def check(schedule):
        root = str(tmp_path / f"gs_{_uuid.uuid4().hex[:8]}")
        n_buckets, max_generations = 4, 3
        store = GenerationalStateStore(
            spark, root, ["k"], n_buckets=n_buckets, max_generations=max_generations
        )
        model: dict[int, int] = {}
        version = 0

        def spark_df(rows):
            return store.with_bucket(
                spark.createDataFrame(rows or None, "k long, v long")
                if rows
                else spark.createDataFrame([], "k long, v long")
            )

        for op, arg in schedule:
            version += 1
            if op == "commit":
                batch = spark_df([(k, v) for k, v in arg])
                touched = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
                # the caller protocol: promote to a full compaction at
                # the generation bound, exactly like ParquetUpsertSink /
                # run_compacted_aggregate
                full = store.gen_count() >= store.max_generations
                scope = list(range(n_buckets)) if full else touched
                if not touched and not full:
                    version -= 1  # the sink's no-op early return
                    continue
                prev = store.read(buckets=None if full else touched)
                merged = batch if prev is None else prev.unionByName(batch)
                latest = (
                    merged.groupBy("k")
                    .agg(
                        F.max_by(
                            F.struct("k", "v", BUCKET_COL), F.struct(F.lit(version))
                        ).alias("s")
                    )
                    .select("s.k", "s.v", f"s.{BUCKET_COL}")
                )
                store.commit(latest, scope, version)
                for k, v in arg:
                    model[k] = v
            elif op == "empty_refresh":
                store.commit(spark_df([]), list(range(n_buckets)), version)
                model.clear()
            elif op == "reopen":
                version -= 1
                store = GenerationalStateStore(
                    spark, root, ["k"], n_buckets=n_buckets,
                    max_generations=max_generations,
                )
            elif op == "partial":
                # crash BETWEEN the generation write and the manifest
                # publish: the directory lands, the atomic pointer flip
                # never happens — recovery reads the previous manifest
                # and the next commit to this version stages to an
                # -r<k> attempt dir (the orphan is GC'd once no
                # retained manifest could reference it). Model: no-op.
                spark_df([(k, v) for k, v in arg]).write.mode(
                    "overwrite"
                ).partitionBy(BUCKET_COL).parquet(f"{root}/gen-{version}")
            elif op == "drift":
                # ADVICE r15: a commit whose column name/type set
                # drifts from the recorded schema raises BEFORE any
                # write — the store root is byte-level untouched (a
                # dir at this version may PRE-exist from an earlier
                # failed attempt at the same batch id — the soak's
                # falsifying schedule — so assert "nothing new", not
                # "nothing there"). Only attemptable once a schema is
                # recorded; model: no-op.
                import pytest as _pytest

                if store._current_manifest() is None:
                    version -= 1
                    continue
                bad_rows = (
                    spark.createDataFrame([(1, 1)], "k long, w long")
                    if arg == "rename"
                    else spark.createDataFrame([(1, "x")], "k long, v string")
                )
                before_entries = sorted(os.listdir(root))
                with _pytest.raises(ValueError, match="schema drifted"):
                    store.commit(store.with_bucket(bad_rows), [0], version)
                assert sorted(os.listdir(root)) == before_entries
                version -= 1
            elif op == "nullbucket":
                # ADVICE r15: a NULL `_bucket` writes a
                # __HIVE_DEFAULT_PARTITION__ dir no manifest entry can
                # own — commit raises AFTER the physical write but
                # BEFORE the manifest flip, so the orphan generation at
                # this version must be staged around by later commits
                # and GC'd, exactly like the `partial` crash. Model:
                # no-op.
                import pytest as _pytest

                bad = spark.createDataFrame([(99, 99)], "k long, v long").withColumn(
                    BUCKET_COL, F.lit(None).cast("int")
                )
                with _pytest.raises(ValueError, match="not an integer"):
                    store.commit(bad, [0], version)
                # hand the version back: the next real commit replays
                # the SAME batch id (the foreachBatch retry shape) and
                # must stage around the failed attempt's orphan dir
                version -= 1
        state = store.read()
        if state is None:
            assert not model  # nothing ever committed
            return
        rows = state.collect()
        assert {r["k"]: r["v"] for r in rows} == model
        # pruned reads partition the full read exactly by bucket id
        by_bucket: dict[int, set] = {}
        for r in rows:
            by_bucket.setdefault(r[BUCKET_COL], set()).add((r["k"], r["v"]))
        for b in range(n_buckets):
            pruned = store.read(buckets=[b])
            got = (
                set()
                if pruned is None
                else {(r["k"], r["v"]) for r in pruned.collect()}
            )
            assert got == by_bucket.get(b, set())
        # the LSM bound: distinct live generations never exceed the
        # caller-enforced threshold (a commit finding gen_count at the
        # threshold promotes itself to a full compaction -> 1)
        assert store.gen_count() <= max_generations
    check()


def test_savepoint_restore_matches_pure_python_model_property(spark, tmp_path):
    """Savepoint/restore under random schedules, composed with the r15
    empty-bucket markers: merge-commits, empty-refresh commits,
    savepoints at arbitrary points, and restores that CONTINUE working
    from the snapshot in a fresh root are replayed against a
    pure-Python dict. After every schedule: the live store matches the
    model, and EVERY savepoint ever taken still reads back exactly the
    rows at its trigger time (savepoints are immutable restore points,
    like Flink's — later commits in source or restored stores must
    never leak into them)."""
    import uuid as _uuid

    from hypothesis import given, settings
    from hypothesis import strategies as st

    ops = st.lists(
        st.one_of(
            st.tuples(
                st.just("commit"),
                st.lists(
                    st.tuples(st.integers(0, 9), st.integers(0, 99)),
                    min_size=1, max_size=3,
                    unique_by=lambda t: t[0],
                ),
            ),
            st.tuples(st.just("empty_refresh"), st.just(None)),
            st.tuples(st.just("savepoint"), st.just(None)),
            st.tuples(st.just("restore"), st.just(None)),
        ),
        min_size=2,
        max_size=6,
    )

    @given(ops)
    @settings(max_examples=soak_examples(6), deadline=None)
    def check(schedule):
        base = tmp_path / f"sr_{_uuid.uuid4().hex[:8]}"
        n_buckets = 4
        store = GenerationalStateStore(
            spark, str(base / "root0"), ["k"], n_buckets=n_buckets
        )
        model: dict[int, int] = {}
        savepoints: list[tuple[str, dict[int, int]]] = []
        version, n_roots = 0, 0

        def merge_commit(rows):
            nonlocal version
            version += 1
            batch = store.with_bucket(
                spark.createDataFrame(rows, "k long, v long")
            )
            touched = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
            prev = store.read(buckets=touched)
            merged = batch if prev is None else prev.unionByName(batch)
            latest = (
                merged.groupBy("k")
                .agg(
                    F.max_by(
                        F.struct("k", "v", BUCKET_COL), F.struct(F.lit(version))
                    ).alias("s")
                )
                .select("s.k", "s.v", f"s.{BUCKET_COL}")
            )
            store.commit(latest, touched, version)
            for k, v in rows:
                model[k] = v

        for op, arg in schedule:
            if op == "commit":
                merge_commit(arg)
            elif op == "empty_refresh":
                version += 1
                store.commit(
                    store.with_bucket(spark.createDataFrame([], "k long, v long")),
                    list(range(n_buckets)),
                    version,
                )
                model.clear()
            elif op == "savepoint":
                if store.read() is None:
                    continue  # no committed state yet: savepoint refuses
                sp = str(base / f"sp{len(savepoints)}")
                store.savepoint(sp)
                savepoints.append((sp, dict(model)))
            elif op == "restore":
                if not savepoints:
                    continue
                sp, snap = savepoints[-1]
                n_roots += 1
                store = GenerationalStateStore.restore_from_savepoint(
                    spark, sp, str(base / f"root{n_roots}"), ["k"],
                )
                model = dict(snap)
        live = store.read()
        got = {} if live is None else {r["k"]: r["v"] for r in live.collect()}
        assert got == model
        # every savepoint is still byte-frozen at its trigger state
        for sp, snap in savepoints:
            frozen = GenerationalStateStore(spark, sp, ["k"], n_buckets=n_buckets)
            rows = frozen.read()
            froze = {} if rows is None else {r["k"]: r["v"] for r in rows.collect()}
            assert froze == snap, (sp, froze, snap)

    check()


def test_ttl_max_committed_ts_row_is_always_visible(spark, tmp_path):
    """Invariant behind the TTL design (and the reason a 'fully
    expired but physically populated' store is unreachable): the
    watermark is the max COMMITTED event time, so with ttl >= 0 the
    row that set it always satisfies ts >= wm - ttl — total expiry of
    all visible rows can only happen through explicit deletion (the
    empty-refresh marker path), never through aging alone. Pinned
    with ttl=0, the tightest horizon."""
    store = GenerationalStateStore(
        spark, str(tmp_path / "state"), ["k"], n_buckets=4, ttl_col="ts", ttl=0
    )
    _ttl_commit(spark, store, [(1, "a", 10)], 0)
    _ttl_commit(spark, store, [(2, "b", 100)], 1)
    _ttl_commit(spark, store, [(3, "c", 200)], 2)
    # ttl=0: everything strictly below the watermark is expired, but
    # the watermark-setting row itself is always visible
    vis = {(r["k"], r["ts"]) for r in store.read().collect()}
    assert vis == {(3, 200)}
    assert store._watermark() == 200


def test_emptied_store_read_compiles_scan_free(spark, tmp_path):
    """Scale pin for the marker path: reading a store whose buckets
    are ALL empty-marked is O(0) I/O — the plan contains no FileScan
    at all (the typed empty table comes from the manifest schema, not
    from listing or scanning any generation directory). At 100 TB an
    emptied state table costs nothing to consult."""
    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(1, "a"), (2, "b")], version=0)
    store.commit(
        store.with_bucket(spark.createDataFrame([], "k long, v string")),
        list(range(4)),
        version=1,
    )
    df = store.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, plan


def test_commit_rejects_null_bucket_partition_loudly(spark, tmp_path):
    """ADVICE r15: a frame whose `_bucket` column carries NULL (or any
    non-integer) writes a `_bucket=__HIVE_DEFAULT_PARTITION__`
    partition that no manifest entry could ever own — silently
    null-marking the bucket would orphan the rows. commit() must fail
    loudly BEFORE publishing a manifest, leaving the prior state
    intact and the store writable."""
    import pytest

    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(1, "a"), (2, "b")], version=0)
    before = {(r["k"], r["v"]) for r in store.read().collect()}

    bad = spark.createDataFrame([(9, "x")], "k long, v string").withColumn(
        BUCKET_COL, F.lit(None).cast("int")
    )
    with pytest.raises(ValueError, match="not an integer"):
        store.commit(bad, [0], version=1)

    # no manifest was published: state is unchanged and still readable
    assert not (tmp_path / "state" / "manifest-1.json").exists()
    assert {(r["k"], r["v"]) for r in store.read().collect()} == before
    # and the store remains writable (the orphaned attempt dir is
    # staged around, then reaped by the next successful commit's gc)
    _commit_rows(spark, store, [(3, "c")], version=2)
    assert (3, "c") in {(r["k"], r["v"]) for r in store.read().collect()}


def test_commit_rejects_schema_drift_loudly(spark, tmp_path):
    """ADVICE r15: the manifest records only the LATEST commit's
    schema, and typed-empty reads are served from it — a commit whose
    column name/type set differs from the recorded schema would
    mistype pruned empty reads against rows still owned by older
    generations. commit() validates BEFORE any write and names the
    added / dropped / retyped columns."""
    import pytest

    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(1, "a")], version=0)

    renamed = store.with_bucket(
        spark.createDataFrame([(2, "b")], "k long, v2 string")
    )
    with pytest.raises(ValueError, match=r"added=\['v2'\].*dropped=\['v'\]"):
        store.commit(renamed, [0], version=1)
    retyped = store.with_bucket(spark.createDataFrame([(2, 7)], "k long, v long"))
    with pytest.raises(ValueError, match=r"retyped=\[\('v', 'string', 'bigint'\)\]"):
        store.commit(retyped, [0], version=1)

    # validation is pre-write: no generation dir or manifest appeared
    assert not (tmp_path / "state" / "manifest-1.json").exists()
    assert store.read().count() == 1
    # a conforming commit still lands
    _commit_rows(spark, store, [(2, "b")], version=2)
    assert {(r["k"], r["v"]) for r in store.read().collect()} == {(1, "a"), (2, "b")}


def test_commit_tolerates_column_order_and_nullability_drift(spark, tmp_path):
    """Field ORDER and NULLABILITY legitimately differ between a first
    commit's plan schema and later commits whose state side is a
    parquet read-back (all-nullable, partition column last); the drift
    check must ignore both — reads union generations by NAME."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    store = _mk(spark, tmp_path, n_buckets=4)
    # non-nullable first commit
    seed = spark.createDataFrame(
        [(1, "a")],
        StructType(
            [StructField("k", LongType(), False), StructField("v", StringType(), False)]
        ),
    )
    df = store.with_bucket(seed)
    store.commit(df, [r[0] for r in df.select(BUCKET_COL).distinct().collect()], version=0)
    # reordered + all-nullable second commit (the parquet read-back shape)
    again = store.with_bucket(
        spark.createDataFrame([(2, "b")], "k long, v string")
    ).select("v", BUCKET_COL, "k")
    store.commit(again, [r[0] for r in again.select(BUCKET_COL).distinct().collect()], version=1)
    assert {(r["k"], r["v"]) for r in store.read().collect()} == {(1, "a"), (2, "b")}


def test_savepoint_failure_after_write_cleans_partial_gen0(spark, tmp_path):
    """ADVICE r16: a savepoint that fails AFTER the gen-0 write began
    would otherwise strand a partial snapshot nothing ever GCs (the
    target has no manifest chain), and the retry would die on the
    parquet errorifexists write instead of anything actionable. The
    failure path best-effort deletes the partial gen-0 — guarded on
    manifest-0.json NOT existing — so a retry at the same path
    succeeds."""
    import pytest

    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(k, f"v{k}") for k in range(8)], version=0)
    sp = tmp_path / "savepoint-fail"

    real = GenerationalStateStore._present_buckets

    def boom(io, gen):
        raise RuntimeError("injected post-write savepoint failure")

    GenerationalStateStore._present_buckets = staticmethod(boom)
    try:
        with pytest.raises(RuntimeError, match="injected post-write"):
            store.savepoint(str(sp))
    finally:
        GenerationalStateStore._present_buckets = staticmethod(real)

    # the partial gen-0 was reaped; no manifest was ever published
    assert not (sp / "gen-0").exists()
    assert not (sp / "manifest-0.json").exists()
    # retry at the SAME path now succeeds and restores faithfully
    store.savepoint(str(sp))
    restored = GenerationalStateStore.restore_from_savepoint(
        spark, str(sp), str(tmp_path / "restored"), ["k"]
    )
    assert {(r["k"], r["v"]) for r in restored.read().collect()} == {
        (k, f"v{k}") for k in range(8)
    }


def test_savepoint_precheck_names_stranded_partial_gen0(spark, tmp_path):
    """ADVICE r16, the crash case cleanup can't reach: a process death
    between the gen-0 write and the manifest publish leaves a stranded
    partial. A later savepoint to that path must fail with a message
    naming the partial gen-0 and the remedy — not the opaque parquet
    errorifexists error — and must NOT delete a PUBLISHED savepoint's
    gen-0 when refusing a double-savepoint."""
    import pytest

    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(1, "a")], version=0)

    stranded = tmp_path / "savepoint-stranded"
    (stranded / "gen-0").mkdir(parents=True)
    with pytest.raises(ValueError, match="partial gen-0 from\nan interrupted export".replace("\n", " ")):
        store.savepoint(str(stranded))
    # the pre-check refuses without touching the stranded dir (it is
    # the operator's evidence); deletion is the operator's call
    assert (stranded / "gen-0").exists()

    # a PUBLISHED savepoint refuses a re-export and keeps its data
    sp = tmp_path / "savepoint-ok"
    store.savepoint(str(sp))
    with pytest.raises(ValueError, match="already exists"):
        store.savepoint(str(sp))
    assert (sp / "gen-0").exists() and (sp / "manifest-0.json").exists()


def test_savepoint_loser_of_errorifexists_race_preserves_winner(
    spark, tmp_path, monkeypatch
):
    """ADVICE r17 (medium): two actors race savepoint() to the same
    target. The loser — whose pre-check ran before the winner's gen-0
    landed, so its failure is the parquet errorifexists error, not the
    friendly pre-check — must NOT delete the winner's in-progress
    gen-0. Before the fix, the loser's cleanup fired while the winner
    sat between its completed parquet write and its manifest publish;
    the winner's _present_buckets then saw no _bucket= dirs and
    published an all-null-marked manifest — a 'successful' savepoint
    that silently restores EMPTY state. Now a write-phase failure
    propagates without deleting anyone's data, and the winner's
    savepoint restores every row."""
    import pytest

    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import statestore as ss

    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(k, f"v{k}") for k in range(8)], version=0)
    sp = str(tmp_path / "savepoint-race")

    # TOCTOU shim: while the loser runs, its pre-check must see the
    # world as of BEFORE the winner's write (gen-0 absent), exactly the
    # window the ADVICE describes. Spark's own errorifexists check is
    # JVM-side and unaffected, so the loser still fails at the write.
    real_exists = ss._Fs.exists
    pre_check_blind = {"on": False}

    def exists(self, p):
        if pre_check_blind["on"] and p.getName() == "gen-0":
            return False
        return real_exists(self, p)

    real_present = GenerationalStateStore._present_buckets
    loser = {"fired": False, "err": None}

    def present_and_race(io, gen):
        # The WINNER is here: after its completed gen-0 write, before
        # its manifest publish. Fire the loser inside that window.
        if not loser["fired"]:
            loser["fired"] = True
            pre_check_blind["on"] = True
            try:
                store.savepoint(sp)
            except ValueError as exc:  # pragma: no cover - regression shape
                raise AssertionError(
                    f"loser died on the pre-check, not the write: {exc}"
                )
            except Exception as exc:
                loser["err"] = str(exc)
            finally:
                pre_check_blind["on"] = False
            assert loser["err"] is not None, "loser's export unexpectedly succeeded"
        return real_present(io, gen)

    monkeypatch.setattr(ss._Fs, "exists", exists)
    monkeypatch.setattr(
        GenerationalStateStore, "_present_buckets", staticmethod(present_and_race)
    )
    store.savepoint(sp)  # the winner completes despite the mid-flight loser
    monkeypatch.setattr(
        GenerationalStateStore, "_present_buckets", staticmethod(real_present)
    )

    assert loser["fired"] and "exist" in loser["err"].lower()
    # the winner's savepoint is whole: every bucket dir survived the
    # loser, the manifest owns real data (not all-null markers), and a
    # restore yields the full state — the silent-empty outcome is the
    # regression this pins
    manifest = json.loads((tmp_path / "savepoint-race" / "manifest-0.json").read_text())
    assert any(g is not None for g in manifest["buckets"].values())
    restored = GenerationalStateStore.restore_from_savepoint(
        spark, sp, str(tmp_path / "restored-race"), ["k"]
    )
    assert {(r["k"], r["v"]) for r in restored.read().collect()} == {
        (k, f"v{k}") for k in range(8)
    }


def test_savepoint_write_phase_failure_preserves_appeared_gen0(
    spark, tmp_path, monkeypatch
):
    """ADVICE r17, second clause: a stranded gen-0 that appears AFTER
    the pre-check but BEFORE the write (so the failure is the parquet
    errorifexists error) is operator evidence like any other stranded
    partial — the write-phase failure must propagate without deleting
    it, honoring the pre-check's preserve-as-evidence contract."""
    import pytest

    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming import statestore as ss

    store = _mk(spark, tmp_path, n_buckets=4)
    _commit_rows(spark, store, [(1, "a")], version=0)
    sp = tmp_path / "savepoint-appeared"
    (sp / "gen-0").mkdir(parents=True)
    (sp / "gen-0" / "evidence.marker").write_text("crashed attempt's partial")

    real_exists = ss._Fs.exists

    def exists(self, p):  # the pre-check ran before the stranded dir appeared
        if p.getName() == "gen-0":
            return False
        return real_exists(self, p)

    monkeypatch.setattr(ss._Fs, "exists", exists)
    with pytest.raises(Exception, match="(?i)exist"):
        store.savepoint(str(sp))
    monkeypatch.setattr(ss._Fs, "exists", real_exists)

    # the stranded partial survives, marker and all; no manifest appeared
    assert (sp / "gen-0" / "evidence.marker").read_text() == "crashed attempt's partial"
    assert not (sp / "manifest-0.json").exists()
