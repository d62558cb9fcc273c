"""File-based CDC source: a directory of Debezium-format JSON lines
consumed as a stream.

This is the engine's dev/test path for the reference's CDC topology —
identical envelope to the Postgres source (S1), so everything
downstream (parse → demux → compact → aggregate) is exercised without
a database. Mirrors the reference's string-deserializer stage
(StringDebeziumDeserializationSchema, StreamingJob.java:61): the raw
record arrives as one string column ``value``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def read_cdc_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Stream raw CDC JSON lines from a directory: one string column
    ``value`` per record (downstream: ``cdc.parse_cdc``)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).select(F.col("value"))

