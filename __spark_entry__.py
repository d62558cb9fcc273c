"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship CDC pipeline (envelope parse → demux
→ composite key → latest-per-key compaction → live-key count, the
reference's README walkthrough at scale) on sf0.001.

`queries()` / `oracle_sql()` expose the full named-query registry —
one entry per implemented operator from SURVEY.md §2 plus the §7.4
extension operators (dedup / similarity / text / multimodal).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from experiment_flink_cdc_connectors_postgres_datastream_spark.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["cdc_pipeline"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted where the result
    depends on a sampled k-means fit or a greedy merge loop — the
    driver records rows-only checks for those). Every MinHash, SimHash
    and sign-LSH signature uses ``md5_long``, which DuckDB reproduces;
    xxhash64 appears only as shingle join keys, salts and bucketing."""
    return dict(ORACLES)
