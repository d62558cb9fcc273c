"""CDC engine benchmark: one workload, one run, one JSON result line.

Usage (from the repository root, or any other working directory)::

    python3 cdcbench/run.py --workload snapshot_drain --seed 1 --seconds 30 --trace 0

Workloads (see NOTE.md for why each exists):

- ``tail_steady``: open loop; a generator thread emits changes at a
  fixed rate through the two-stage CDC topology;
- ``snapshot_drain``: closed; a 100k-row chunked snapshot plus its tail
  drains through the same topology;
- ``batch_queries``: closed, one client; the 18 ``bench.BENCH_QUERIES``
  registry builders over generated tables, noop writer.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics, and the spans and the per-layer
table are written to ``.cdcbench_traces/<workload>-<seed>.json`` in the
repository root. The line before the last is a detail object with the
checks and noise labels. Everything else the run writes lives under
``.cdcbench_work/`` in the repository root and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tail_steady", "snapshot_drain", "batch_queries")
#: how many times the per-run input preparation repeats for ``setup_s``
SETUP_REPEATS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "freshness_p50_s": "s",
    "freshness_p99_s": "s",
    "drain_rows_per_s": "rows/s",
    "suite_s": "s",
}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-linux
        return os.cpu_count() or 1


def configure_env(work: str, cpus: int) -> None:
    """Everything the JVM and the Python workers inherit: must run
    before the session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile  # noqa: PLC0415

    tempfile.tempdir = tmp


def start_session(cpus: int):
    """``get_session`` plus the JVM/codegen warm-up ``bench.py`` uses."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.session import get_session  # noqa: PLC0415

    spark = get_session("cdcbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1000).selectExpr("named_struct('id', id, 'op', 'c') AS s").selectExpr(
        "to_json(s) AS v"
    ).selectExpr("from_json(v, 'id long, op string') AS e").selectExpr("e.id").write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(1000).selectExpr("id % 7 AS g", "CAST(id AS DECIMAL(12,4)) AS d").selectExpr(
        "g", "sum(d) OVER (PARTITION BY g ORDER BY d) AS rs"
    ).groupBy("g").agg({"rs": "sum"}).write.format("noop").mode("overwrite").save()
    return spark


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_session(spark) -> None:
    """Stop every query, the session and the JVM with its Python
    workers, and wait until each process has ended."""
    from pyspark import SparkContext  # noqa: PLC0415

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    procs = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - a stuck JVM is killed, not waited on forever
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 15
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _steps(workload: str, spark, seed: int, seconds: float, tracer, size: str):
    """The workload's (prepare inputs, warm up, measure) steps."""
    if workload == "batch_queries":
        from cdcbench import batch  # noqa: PLC0415

        return (
            lambda d: batch.prepare(d, seed, size),
            lambda ctx: batch.check_and_warm(spark, ctx),
            lambda ctx: batch.run(spark, ctx, seconds, tracer),
        )
    from cdcbench import streaming  # noqa: PLC0415

    streaming.trace_streaming_layers(tracer)

    def measure(ctx):
        if workload == "tail_steady":
            res = streaming.run_tail(ctx, seconds)
        else:
            res = streaming.run_drain(spark, ctx, seconds, tracer)
        if tracer.enabled:
            res["layers"].update(streaming.stream_layers(ctx, res, tracer))
        return res

    warm_up = streaming.prepare_tail if workload == "tail_steady" else streaming.prepare_drain
    return (
        lambda d: streaming.prepare_inputs(workload, d, seed, size),
        lambda ctx: warm_up(spark, ctx, tracer),
        measure,
    )


def run(workload: str, seed: int, seconds: float, traced: bool, work: str, size: str) -> dict:
    import bench  # noqa: PLC0415 - noise labels use bench.py's /proc/stat reader

    from cdcbench.tracing import Tracer  # noqa: PLC0415

    cpus = _cpus()
    tracer = Tracer(traced)
    load_before = os.getloadavg()[0]
    cpu_before = bench._cpu_stat()
    t0 = time.perf_counter()
    spark = start_session(cpus)
    session_s = time.perf_counter() - t0
    try:
        prepare, warm_up, measure = _steps(workload, spark, seed, seconds, tracer, size)
        preps = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            ctx = prepare(os.path.join(work, f"prep{i}"))
            preps.append(time.perf_counter() - t)
        t = time.perf_counter()
        ctx = warm_up(ctx)
        warm_s = time.perf_counter() - t
        res = measure(ctx)
    finally:
        stop_session(spark)
        tracer.restore()
    res["metrics"]["setup_s"] = session_s + warm_s + statistics.median(preps)
    res["layers"]["session.start_s"] = session_s
    res["labels"] = {
        "loadavg_1m_before": load_before,
        "loadavg_1m_after": os.getloadavg()[0],
        "steal_pct": bench._steal_pct(cpu_before, bench._cpu_stat()),
        "cpus": cpus,
        "setup_parts_s": {"session": session_s, "warm_up": warm_s, "prepare_runs": preps},
    }
    return res


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="small inputs, for the smoke test only")
    args = ap.parse_args(argv)
    # import the engine and this package from the repository root, not
    # from the script's own directory
    sys.path[0] = ROOT
    # fail before creating anything when the engine is not importable
    import experiment_flink_cdc_connectors_postgres_datastream_spark  # noqa: F401, PLC0415

    from cdcbench import layers  # noqa: PLC0415

    work = os.path.join(ROOT, ".cdcbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, _cpus())
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work, "smoke" if args.smoke else "full")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    checks_ok = all(v is not False for v in res["checks"].values())
    attempted = int(res["attempted"])
    failed = int(res["failed"])
    trace_file = None
    if args.trace:
        values = layers.per_layer(res, attempted, failed)
        units = layers.PER_LAYER_UNITS
        trace_file = os.path.join(ROOT, ".cdcbench_traces", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        res["spans"].write(trace_file, values)
    else:
        values = res["metrics"]
        units = END_TO_END_UNITS
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "checks": res["checks"],
        "notes": res.get("notes"),
        "labels": res["labels"],
        "samples": res.get("sample_count"),
        "per_query_s": res.get("per_query_s"),
        "trace_file": trace_file,
        "end_to_end": res["metrics"],
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": checks_ok and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
