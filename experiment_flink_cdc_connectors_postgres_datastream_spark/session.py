"""SparkSession construction / configuration.

The reference builds a ``StreamExecutionEnvironment``
(StreamingJobWithCustomDeserializer.java:44); our analog is a
SparkSession with scale-oriented defaults: AQE (runtime re-planning +
skew-join handling), UTC session time, Arrow for any pandas exchange,
and the parquet timestamp switches that undeclared reads (the bus
spool) rely on; the state store reads with the schema its manifest
records.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to *any* session handed to us (the
#: correctness driver builds its own session, so everything here must
#: be dynamic, not static, conf).
RUNTIME_CONFS: dict[str, str] = {
    # Spark has no ns timestamp type and rejects parquet TIMESTAMP(NANOS)
    # by default; read such columns as long instead. The testdata is
    # µs, and io.load_table and the state store declare their schemas,
    # so only undeclared reads (the bus spool) can meet this.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (no-UTC-flag) parquet timestamps read as TIMESTAMP (LTZ)
    # rather than TIMESTAMP_NTZ: under the UTC session timezone this is
    # value-identical to DuckDB's naive-timestamp reads, and it keeps
    # unix_micros()/window() applicable to the driver testdata.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Deterministic wall-clock semantics for the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing and
    # skew-join splitting — essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the few pandas-exchange operators (multimodal UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic confs to an existing session.

    Idempotent; safe to call at the top of every query entry point
    (the driver owns session creation).
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Never fail a query because one conf is not settable on
            # this deployment; defaults are correctness-preserving
            # except nanosAsLong, which will surface on read instead.
            pass
    return spark


def get_session(app_name: str = "experiment_flink_cdc_connectors_postgres_datastream_spark", cpus: int | None = None) -> SparkSession:
    """Local session for tests/bench: ``local[$SPARK_GRAFT_CPUS]``."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # local-mode tune only: the testdata files are ~1-10 MB, so the
        # 128 MB default gives single-task scans; 8 MB splits restore
        # parallel scan/partial-agg. On a real cluster with 100 TB of
        # properly-sized files, keep the default (here via env).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/experiment_flink_cdc_connectors_postgres_datastream_spark_warehouse"),
        )
    )
    return configure_session(builder.getOrCreate())
