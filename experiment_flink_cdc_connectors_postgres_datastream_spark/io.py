"""Table loading for the driver-provided parquet testdata.

Analog of the reference's JDBC catalog registration
(StreamingJobWithCustomDeserializer.java:156-193): every table's
columns are declared up front, as the reference's ``CREATE TABLE`` DDL
does, so a read never runs a Spark job to infer a schema from parquet
footers. Tables become temp views over parquet so both the DataFrame
API and ``spark.sql`` reach them.

``SCHEMAS`` mirrors FIXTURES.md §B; ``tests/test_io.py`` asserts it
equals the inferred schema at every testdata scale, so drift fails
there instead of at query execution. The testdata stores its
timestamps as naive ``INT64 TIMESTAMP(MICROS)``; declared ``TIMESTAMP``
(LTZ) reads them as-is, value-identical to DuckDB's naive reads under
the UTC session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from experiment_flink_cdc_connectors_postgres_datastream_spark.session import configure_session

#: declared table catalog: name → DDL column list, in registration order
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE",
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
        "o_orderdate TIMESTAMP, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, "
        "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP"
    ),
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLES = list(SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its declared schema."""
    configure_session(spark)
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register every table as a temp view (SQL surface parity with the
    reference's ``executeSql`` catalog DDL)."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
