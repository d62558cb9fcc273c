"""Message-bus sink projection (K1/K2): keyed-JSON topic writes.

Reference parity: the Pulsar sink serializes each typed event to JSON,
sets the message key to the event's upsert key bytes, and writes one
topic per table with AT_LEAST_ONCE semantics
(StreamingJobWithCustomDeserializer.java:93-118; topic-per-table
README.md:131). The Kafka/Pulsar wire shape in Spark is identical:
``key binary, value binary`` (+ ``topic``) — ``to_keyed_json``
produces exactly that projection, so the same DataFrame works with
``format("kafka")``, a Pulsar connector, or (for tests) a parquet
capture of the frames.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pyspark.sql import Column


def to_keyed_json(
    df: DataFrame,
    key_col: str = "key",
    topic: str | None = None,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Project a typed event stream to the bus wire shape:
    ``key: binary`` (upsert key bytes, Pulsar keyBytes analog),
    ``value: binary`` (JSON of the event payload), and optionally a
    constant ``topic`` column (topic-per-table routing)."""
    payload = [c for c in (value_cols or df.columns)]
    cols: list[Column] = [
        F.col(key_col).cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in payload])).cast("binary").alias("value"),
    ]
    if topic is not None:
        cols.append(F.lit(topic).alias("topic"))
    return df.select(*cols)

