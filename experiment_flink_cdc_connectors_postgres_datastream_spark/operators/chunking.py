"""Sequence-shaping operators for training-data pipelines: fixed-size
token chunking (context-window splitting) and greedy sequence packing
(fill token budgets with whole documents).

Chunking is pure column expressions — a narrow map over the documents
scan, zero shuffles, whole-stage codegen. Packing needs an ordered
greedy scan, which SQL can't express; it runs as ``applyInPandas``
over hash groups (the sanctioned Arrow-batched shape), with the token
counting done JVM-side first so Python only sees (id, n_tokens) pairs.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import md5_long
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.text import tokens


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into token windows of ``chunk_size`` with
    ``overlap`` tokens of context carry-over (stride = size-overlap) —
    the standard context-window splitting in front of an embedding or
    pretraining pipeline. The final window may be short; empty docs
    yield no rows. Output: id, chunk_id (0-based), n_tokens,
    chunk_text."""
    if overlap >= chunk_size:
        raise ValueError(f"overlap ({overlap}) must be < chunk_size ({chunk_size})")
    stride = chunk_size - overlap
    toks = tokens(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    out = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_id", "_start"),
    ).select(
        id_col,
        "chunk_id",
        F.slice(F.col("_toks"), F.col("_start"), chunk_size).alias("_chunk"),
    )
    return (
        out.filter(F.size("_chunk") > 0)
        .select(
            id_col,
            "chunk_id",
            F.size("_chunk").alias("n_tokens"),
            F.concat_ws(" ", "_chunk").alias("chunk_text"),
        )
    )


PACKING_SCHEMA = (
    "pack_group int, bin_id long, doc_id long, n_tokens int, bin_fill long"
)


def derive_pack_groups(n_rows: int, parallelism: int, rows_per_group: int = 1_000_000) -> int:
    """Packing-group count that scales with the input: never below the
    cluster's parallelism (no idle cores on small corpora), and one
    extra group per ``rows_per_group`` rows beyond that (bounded pandas
    group memory at any corpus size)."""
    return max(parallelism, -(-n_rows // rows_per_group))


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    n_groups: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    rows_per_group: int = 1_000_000,
) -> DataFrame:
    """Greedy first-fit sequence packing: assign whole documents to
    bins of at most ``budget`` tokens (docs longer than the budget get
    a bin of their own), the token-efficiency step that turns ragged
    documents into dense fixed-length training sequences.

    Deterministic and scalable: documents are hash-assigned to
    ``n_groups`` independent packing groups (at 100 TB, one group per
    executor-sized slice), sorted by id within the group, and packed
    by a linear greedy scan in Arrow batches. Bin ids are unique
    across groups (bin_id = group + k·n_groups). Output one row per
    document: pack_group, bin_id, doc_id, n_tokens, bin_fill (the
    bin's total after packing).

    Group sizing: when ``n_groups`` is None it is derived as
    max(cluster parallelism, ceil(rows / rows_per_group)) — the scan
    parallelism and per-group pandas memory both scale with the input
    instead of a fixed cap (a fixed 32 capped the greedy stage at 32
    tasks regardless of corpus size). Only (id, n_tokens, group) rows
    cross into Python, so a 1M-row group is ~24 MB of Arrow batch. The
    row count comes from ``df.count()`` — metadata-only on parquet
    scans. Pass an explicit ``n_groups`` when bin ids must be
    reproducible across differently-sized clusters.

    The group hash is :func:`~..dedup.md5_long` of the id rendered as
    a string — reproducible in any engine with md5, which is what lets
    the registry grade the whole greedy packing against a DuckDB
    recursive-CTE oracle."""
    if n_groups is None:
        n_groups = derive_pack_groups(
            df.count(), df.sparkSession.sparkContext.defaultParallelism, rows_per_group
        )
    grp = md5_long(F.col(id_col).cast("string"))
    counted = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
        F.pmod(grp, F.lit(n_groups)).cast("int").alias("pack_group"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        group = int(pdf["pack_group"].iloc[0]) if len(pdf) else 0
        local_bin, fill = -1, 0
        local_bins: list[int] = []
        totals: dict[int, int] = {}
        for n in pdf["n_tokens"]:
            n = int(n)
            if local_bin < 0 or fill + n > budget:
                local_bin += 1
                fill = 0
            fill += n
            local_bins.append(local_bin)
            totals[local_bin] = fill
        return pd.DataFrame(
            {
                "pack_group": pdf["pack_group"],
                # globally-unique bin id: group-strided
                "bin_id": [group + b * n_groups for b in local_bins],
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "bin_fill": [totals[b] for b in local_bins],
            }
        )

    return counted.groupBy("pack_group").applyInPandas(pack, schema=PACKING_SCHEMA)
