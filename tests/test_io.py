"""The declared table catalog (`io.SCHEMAS`): it must match what Spark
would infer from the testdata's parquet footers, and reading through
it must fire no Spark job."""

from __future__ import annotations

import time

import pytest
from pyspark.sql.types import StructType

from experiment_flink_cdc_connectors_postgres_datastream_spark.io import SCHEMAS, TABLES, load_table
from experiment_flink_cdc_connectors_postgres_datastream_spark.session import configure_session

SF_DIRS = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_declared_schemas_match_inferred(spark, sf_dir):
    """Drift guard: if the testdata changes a column's type, name or
    order, this fails here rather than a query failing at execution.
    Nullability is ignored (`simpleString` omits it): a read with a
    declared schema marks every column nullable anyway."""
    configure_session(spark)
    for name in TABLES:
        declared = StructType.fromDDL(SCHEMAS[name])
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert declared.simpleString() == inferred.simpleString(), name


def test_load_table_fires_no_spark_jobs(spark):
    """Building the DataFrame of every table runs no job: no footer
    read for schema inference. The control read afterwards infers a
    schema in a second group; once the status tracker has seen that
    job, it has seen every earlier one, so the empty first group is
    not a listener-bus lag."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sf_dir = SF_DIRS[0]
    try:
        sc.setJobGroup("test-io-declared", "load_table, declared schemas")
        for name in TABLES:
            load_table(spark, sf_dir, name)
        sc.setJobGroup("test-io-inferred", "control: schema inference")
        spark.read.parquet(f"{sf_dir}/events.parquet")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("test-io-inferred"):
        assert time.monotonic() < deadline, "control read fired no job"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("test-io-declared") == []
