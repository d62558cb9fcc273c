"""The ``batch_queries`` workload: the 18 ``bench.BENCH_QUERIES`` registry
builders over tables generated from the seed, noop writer, one client.

The registered builders are timed, never ``bench.BENCH_OVERRIDES``: those
are hash variants the oracle does not grade. Each query's result is
compared with its registry oracle through DuckDB, with the normalizer of
``tools/verify_local.py``; that pass also warms the JVM and the workers,
and runs before the timed region.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time
from contextlib import nullcontext
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import bench
from cdcbench.tracing import Tracer, repeat_within
from experiment_flink_cdc_connectors_postgres_datastream_spark import io as engine_io
from experiment_flink_cdc_connectors_postgres_datastream_spark.queries import ORACLES, QUERIES

#: table sizes relative to the testdata's sf1: a run uses sf0.01 (60k
#: lineitem rows), the smoke test's short run sf0.001
SCALES = {"full": 0.01, "smoke": 0.001}
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort window "
    "data column join small order query group stream filter customer big vector"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _verify_local():
    """``tools/verify_local.py`` as a module (its normalizer and hash)."""
    path = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)), "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _days(rng, start: str, end: str, n: int):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo) / np.timedelta64(1, "D"))
    return (lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _choice(rng, values: list[str], n: int):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _text(rng, n_words: int) -> list[str]:
    return list(_choice(rng, WORDS, n_words))


def write_tables(sf_dir: str, seed: int, scale: float) -> dict[str, int]:
    """The ten testdata tables (FIXTURES.md section B schemas) at
    ``scale``; returns rows per table."""
    rng = np.random.default_rng(seed)
    n = {
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": int(50_000 * scale),
        "embeddings": int(50_000 * scale),
    }
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    money = lambda lo, hi, k: pa.array(np.round(rng.uniform(lo, hi, k), 2))  # noqa: E731
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": i32(range(5)), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
        ),
        "nation": pa.table(
            {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)], "n_regionkey": i32([i % 5 for i in range(25)])}
        ),
    }
    k = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": i64(range(k)),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": i32(rng.integers(0, 25, k)),
            "c_acctbal": money(-999, 9999, k),
            "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k),
        }
    )
    k = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": i64(range(k)),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": i32(rng.integers(0, 25, k)),
            "s_acctbal": money(-999, 9999, k),
        }
    )
    k = n["part"]
    adjectives = ["small", "red", "blue", "large", "green", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "nut", "spring"]
    tables["part"] = pa.table(
        {
            "p_partkey": i64(range(k)),
            "p_name": [f"{a} {b}" for a, b in zip(_choice(rng, adjectives, k), _choice(rng, nouns, k))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
            "p_type": _choice(rng, ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE", "MEDIUM"], k),
            "p_size": i32(rng.integers(1, 51, k)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 2)),
        }
    )
    k = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": i64(range(k)),
            "o_custkey": i64(rng.integers(0, n["customer"], k)),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], k),
            "o_totalprice": money(1000, 500_000, k),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", k)),
            "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k),
        }
    )
    k = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n["orders"], k)),
            "l_partkey": i64(rng.integers(0, n["part"], k)),
            "l_suppkey": i64(rng.integers(0, n["supplier"], k)),
            "l_linenumber": i32(rng.integers(1, 8, k)),
            "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
            "l_extendedprice": money(900, 105_000, k),
            "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], k),
            "l_linestatus": _choice(rng, ["O", "F"], k),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", k)),
        }
    )
    k = n["events"]
    base = np.datetime64("2024-01-01T00:00:00", "us")
    step = 30 * 86_400_000_000 // k
    tables["events"] = pa.table(
        {
            "event_id": i64(range(k)),
            "ts": pa.array(base + (np.arange(k) * step + rng.integers(0, step, k)).astype("timedelta64[us]")),
            "user_id": i64(rng.integers(0, 150, k)),
            "event_type": _choice(rng, ["click", "view", "purchase", "signup", "error"], k),
            "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 10 and rng.random() < 0.15:  # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = _text(rng, int(rng.integers(20, 80)))
        texts.append(" ".join(words))
    tables["documents"] = pa.table(
        {
            "doc_id": i64(range(k)),
            "text": texts,
            "lang": _choice(rng, LANGS, k),
            "source": [f"src{s}" for s in rng.integers(0, 20, k)],
            "n_chars": i64([len(t) for t in texts]),
        }
    )
    k = n["embeddings"]
    vecs = rng.normal(0.0, 0.12, (k, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": i64(range(k)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, k)),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def prepare(work: str, seed: int, size: str) -> dict[str, Any]:
    sf_dir = os.path.join(work, "tables")
    rows = write_tables(sf_dir, seed, SCALES[size])
    return {"sf_dir": sf_dir, "rows": rows}


def check_and_warm(spark, ctx: dict[str, Any]) -> dict[str, Any]:
    """Run every query once, collect its rows and compare them with the
    registry oracle through DuckDB; also record which tables each query
    loads. Untimed: it is the workload's warm-up."""
    import duckdb  # noqa: PLC0415

    vl = _verify_local()
    sf_dir = ctx["sf_dir"]
    con = duckdb.connect()
    for t in engine_io.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    loaded: dict[str, list[str]] = {name: [] for name in bench.BENCH_QUERIES}
    mismatches: dict[str, str] = {}
    tracer = Tracer(True)
    query = [""]  # the query being checked, for the load_table hook
    _patch_load_table(tracer, on_load=lambda table: loaded[query[0]].append(table))
    try:
        for name in bench.BENCH_QUERIES:
            query[0] = name
            try:
                sdf = QUERIES[name](spark, sf_dir)
                srows = [tuple(vl.normalize(v) for v in r) for r in sdf.collect()]
                scols = sdf.columns
                cur = con.sql(ORACLES[name])
                dcols = [d[0] for d in cur.description]
                drows = [tuple(vl.normalize(v) for v in r) for r in cur.fetchall()]
            except Exception as e:  # noqa: BLE001 - a failing query is a counted error
                mismatches[name] = f"error: {type(e).__name__}: {e}"[:300]
                continue
            if sorted(scols) != sorted(dcols):
                mismatches[name] = f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
            elif len(srows) != len(drows) or vl.value_hash(srows, scols) != vl.value_hash(drows, dcols):
                mismatches[name] = f"values differ (spark {len(srows)} rows, duckdb {len(drows)} rows)"
    finally:
        tracer.restore()
        con.close()
    return {**ctx, "tables_read": loaded, "mismatches": mismatches}


def _no_jobs(spark, attrs: dict):
    return nullcontext()


def _patch_load_table(tracer: Tracer, on_load=None, job_counter=_no_jobs) -> None:
    """Wrap ``io.load_table`` in every module that imported it by name."""
    import sys  # noqa: PLC0415

    original = engine_io.load_table

    def make(orig):
        def load_table(spark, sf_dir, name):
            if on_load is not None:
                on_load(name)
            with tracer.span("io.load_table", table=name) as attrs, job_counter(spark, attrs):
                return orig(spark, sf_dir, name)

        return load_table

    prefix = "experiment_flink_cdc_connectors_postgres_datastream_spark"
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(prefix) and getattr(mod, "load_table", None) is original:
            tracer.patch(mod, "load_table", make)


class _JobGroup:
    """Count the Spark jobs and tasks fired inside a block: a job group
    of its own, read back through the status tracker; the caller's
    group is restored afterwards."""

    _ids = iter(range(1, 1 << 62))

    def __init__(self, spark, attrs: dict):
        self.sc = spark.sparkContext
        self.attrs = attrs

    def __enter__(self):
        self.prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.group = f"cdcbench-{next(self._ids)}"
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self.group)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info is not None else []:
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage is not None else 0
        self.attrs["jobs"] = len(jobs)
        self.attrs["tasks"] = tasks
        if self.prev is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.prev, self.prev)
        return False


def run(spark, ctx: dict[str, Any], seconds: float, tracer: Tracer) -> dict[str, Any]:
    """Timed passes over the 18 queries, each query built and executed
    once per pass, as many passes as ``repeat_within`` says. A query's
    time is the median of its build+execute times over the passes."""
    sf_dir = ctx["sf_dir"]
    job_counter = _JobGroup if tracer.enabled else _no_jobs
    _patch_load_table(tracer, job_counter=job_counter)
    times: dict[str, list[float]] = {n: [] for n in bench.BENCH_QUERIES}
    failed: set[str] = set()

    def one_pass(_: int) -> None:
        tracer.spans.clear()  # per-layer numbers describe the last pass
        for name in bench.BENCH_QUERIES:
            try:
                t0 = time.perf_counter()
                with tracer.span("queries.build", query=name) as attrs, job_counter(spark, attrs):
                    df = QUERIES[name](spark, sf_dir)
                with tracer.span("exec.execute", query=name) as attrs, job_counter(spark, attrs):
                    df.write.format("noop").mode("overwrite").save()
                times[name].append(time.perf_counter() - t0)
            except Exception:  # noqa: BLE001 - a failing query is a counted error
                failed.add(name)

    passes = len(repeat_within(seconds, one_pass))
    tracer.restore()
    per_query = {n: statistics.median(t) for n, t in times.items() if t}
    suite_s = sum(per_query.values())
    rows_in = sum(ctx["rows"][t] for tables in ctx["tables_read"].values() for t in tables)
    lat = sorted(per_query.values())
    layers: dict[str, float] = {}
    if tracer.enabled:
        loads = tracer.named("io.load_table")
        builds = tracer.named("queries.build")
        execs = tracer.named("exec.execute")
        load_s = sum(s["end"] - s["start"] for s in loads)
        layers = {
            "io.load_table_s": load_s,
            "io.load_table_calls": float(len(loads)),
            "io.load_table_jobs": float(sum(s["jobs"] for s in loads)),
            "queries.build_s": sum(s["end"] - s["start"] for s in builds) - load_s,
            "queries.build_jobs": float(sum(s["jobs"] for s in builds)),
            "exec.execute_s": sum(s["end"] - s["start"] for s in execs),
            "exec.jobs": float(sum(s["jobs"] for s in execs)),
            "exec.tasks": float(sum(s["tasks"] for s in execs)),
        }
    mismatches = ctx["mismatches"]
    n_checks = len(bench.BENCH_QUERIES)
    return {
        "metrics": {
            "freshness_p50_s": float(np.percentile(lat, 50)),
            "freshness_p99_s": float(np.percentile(lat, 99)),
            "suite_s": suite_s,
            "drain_rows_per_s": rows_in / suite_s,
        },
        "attempted": passes * len(bench.BENCH_QUERIES) + n_checks,
        "failed": len(failed) + len(mismatches),
        "checks": {"results_equal_oracles": not mismatches, "queries_ran": not failed},
        "notes": {"oracle_mismatches": mismatches, "failed_queries": sorted(failed), "passes": passes},
        "layers": {**layers, "freshness.samples": float(len(lat)), "freshness.batches": float(passes)},
        "per_query_s": per_query,
        "spans": tracer,
        "sample_count": len(lat),
    }
