"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

Each query is executed to completion with the noop writer (forces
full evaluation of every column — ``count()`` would let Catalyst
prune the aggregates away) after a small JVM warmup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from experiment_flink_cdc_connectors_postgres_datastream_spark.queries import QUERIES  # noqa: E402
from experiment_flink_cdc_connectors_postgres_datastream_spark.session import get_session  # noqa: E402

#: headline set: CDC semantic core + relational analytics + data-pipeline ops.
#: KEEP STABLE across rounds — its subtotal (`headline18_sec`) is the
#: round-over-round perf ratchet.
BENCH_QUERIES = [
    "cdc_pipeline",
    "compact_latest",
    "count_live_by",
    "tumbling_window",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q18",
    "revenue_by_nation",
    "top_k_orders",
    "asof_join",
    "tokenize",
    "quality_score",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "similarity_topk",
]

#: extended set: one representative per operator family newly inside the
#: driver's 50-query correctness window (round 2) — benched so perf
#: regressions in graded operators are visible. (cdc_pipeline_streamed is
#: graded for correctness but excluded here: a streaming micro-batch
#: round trip measures startup latency, not operator throughput.)
EXTENDED_QUERIES = [
    "token_count",
    "lang_id",
    "vocab_top_terms",
    "tokens_to_ids",
    "tfidf_top_terms",
    "dedup_exact",
    "dedup_simhash",
    "dedup_clusters",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "multimodal_meta",
    "session_window",
    "json_extract_props",
    "cube_counts",
    "window_rank_family",
    "tpch_q12",
    "embedding_norm_stats",
    "embedding_quantize_error",
    "type_token_ratio",
    "top_bigrams",
    # round 2: governance family (regex-heavy redaction is a genuine
    # throughput surface; entropy is the word-count shuffle shape)
    "pii_redact",
    "word_entropy",
    "shard_assignment",
    "zscore_outliers",
    "curation_pipeline",
    "dedup_jaccard_prefix",
    # round 3: new / newly-oracled operators
    "dedup_spans",
    "dedup_clusters_star",
    "sequence_packing",
    "embedding_near_dup",
    "bpe_pair_counts",
    "similarity_topk_ivf_sampled",
    "multimodal_feature_topk",
    "epoch_shuffle",
    "cdc_two_table_join",
    "dedup_containment",
    "unigram_kl_by_source",
    # round 3b: changelog multi-agg, line dedup, PQ ANN
    "changelog_agg_multi",
    "boilerplate_removal",
    "similarity_topk_pq",
    "similarity_topk_pq_sampled",
    # round 4: PMI collocations, reranked PQ grading point, minhash
    # est-vs-true calibration
    "word_pmi_top",
    "similarity_topk_pq_sampled_rerank",
    "minhash_calibration",
    "mad_outliers",
    "ngram_novelty",
    "winsorized_stats",
    "dup_degree_histogram",
    # round 5: ANN recall audit, semantic dedup, perplexity scores,
    # vocab coverage
    "ann_recall_lsh",
    "semantic_dedup_reps",
    "doc_perplexity",
    "tokenizer_coverage",
    "content_defined_chunks",
    "tfidf_cosine_pairs",
    "zipf_slope_by_source",
    "bus_wire_frames",
    "bus_roundtrip_pipeline",
    # round 5b: Gopher rule battery + funnel, SCD2 history, JL
    # projection
    "gopher_quality_flags",
    "quality_filter_funnel",
    "cdc_scd2_history",
    "scd2_as_of_state",
    "embedding_sparse_projection",
    "label_centroids",
    "dedup_keep_best",
    "k_anonymity_audit",
    "chunk_dedup_stats",
    "heavy_hitters_sketch",
    "minhash_recall_curve",
    # round 6: skew-hardened changelog count + salted join, cluster-
    # safe splits, hash mixture sampling, token-budget curation,
    # per-dim INT8 quantization (bus_roundtrip_streamed is graded for
    # correctness but excluded like cdc_pipeline_streamed: micro-batch
    # startup latency, not operator throughput)
    "count_live_by_salted",
    "salted_join_agg",
    "cluster_safe_splits",
    "mixture_sample_hash",
    "token_budget_selection",
    "embedding_int8_quant",
    # round 7: the chunked keyset snapshot at sf scale (VERDICT r6 #7
    # asked for a benched regression guard on the snapshot path; this
    # one is DELIBERATELY streaming-engine-driven — its timing is the
    # end-to-end snapshot cost incl. pacing, which is the quantity to
    # guard)
    "cdc_snapshot_chunked",
    # round 7 additions: weighted priority sampling, DSIR importance
    # weights, containment decontamination
    "priority_sample_per_source",
    "dsir_importance_weights",
    "decontaminate_fuzzy",
    "hard_negatives_topk",
    "repeat_factor_sampling",
    "decontaminate_spans",
    # round 8: the WAL-tail throughput guard (VERDICT r7 #5 — the
    # twin of cdc_snapshot_chunked for the other phase; like it, the
    # timing is DELIBERATELY engine-driven end-to-end: peek-window
    # planning + envelope translation + paced micro-batches are the
    # quantities to guard), plus the new curation/behavioral family
    "cdc_wal_tail",
    "sessionization_gap",
    "event_sequence_ngrams",
    "temperature_mixture_weights",
    "quality_logreg_score",
    "embedding_matryoshka",
    "ngram_coverage_curve",
    "recency_decay_weights",
    "lang_confusion_matrix",
    "xml_roundtrip",
    # round 9: budget apportionment, closed-form packing audit,
    # bit-length histogram, canonicalized exact dedup
    # (the three restart queries — cdc_wal_tail_resume,
    # cdc_snapshot_resume, cdc_snapshot_tail_handoff — are graded for
    # correctness but excluded here: their wall time is dominated by
    # the deliberate stop/restart, not throughput, which
    # cdc_snapshot_chunked and cdc_wal_tail already guard)
    "mixture_budget_allocation",
    "sequence_packing_stats",
    "doc_length_histogram",
    "dedup_normalized_exact",
    # round 9, second batch: schema-drift CDC parse+compact,
    # edit-distance verification, quantile calibration, stride
    # interleaving
    "cdc_schema_evolution",
    "dedup_edit_distance",
    "quality_quantile_calibration",
    "mixture_interleave_schedule",
    # round 10: TOAST resolution pipeline (batch; the streamed twin is
    # graded for correctness but excluded like the other streaming
    # round trips — micro-batch startup, not operator throughput) and
    # the two drift-breadth parses
    "cdc_toast_pipeline",
    "cdc_schema_drop_column",
    "cdc_schema_widen_type",
    # round 11: the wal2json omission-diff pipeline (Arrow-batched
    # translation + the cdc_toast_pipeline resolve/compact shape)
    "cdc_toast_wal2json",
    # rounds 12-14: cdc_ttl_streamed, cdc_ttl_restart_streamed, and
    # cdc_ttl_wal2json_streamed are graded for correctness but
    # excluded like the other streaming round trips — their wall time
    # is micro-batch startup (plus, for the restart twin, a deliberate
    # kill/resume), not operator throughput; the TTL expiry filter
    # rides the compaction paths and the wal2json translation the
    # headline set already measures (cdc_toast_wal2json's mapInPandas
    # kernel is the same Arrow-batched translate)
]


def run_one(spark, name: str, sf_dir: str) -> float:
    """One UNTIMED warm pass, then min of two timed executions.

    The warm pass absorbs per-query one-time costs (codegen templates,
    parquet footers, broadcast build JIT) so the timed runs measure
    steady-state operator throughput — round-3 A/B showed 3-7× first-
    run inflation on this host. Min-of-2 on the warm runs then
    discards the multi-second CPU-steal bursts this host injects
    (measured round 3: same query, same code, 1.9 s vs 42.9 s across
    two clean runs); the JSON records the aggregation so rounds are
    compared knowingly (r1/r2 single-run, r3 cold min-of-2). Every
    query is timed through its registered builder, the one its oracle
    grades."""
    build = QUERIES[name]
    build(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    times = []
    for _ in range(2):
        t0 = time.time()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    return round(min(times), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_session("bench")
    # JVM/codegen/scan/shuffle warmup outside the timed region (a
    # long-running engine amortizes these; first-query numbers would
    # otherwise carry ~7s of one-time JIT + parquet-footer costs)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = spark.read.parquet(f"{sf_dir}/nation.parquet")
    warm.join(warm.select("n_nationkey"), "n_nationkey").groupBy("n_regionkey").count().write.format(
        "noop"
    ).mode("overwrite").save()
    # JSON codec + window-exec + decimal-agg paths also carry one-time
    # init (Jackson buffers, codegen templates) — touch each once so
    # the first timed query using them isn't charged for it
    spark.range(1000).selectExpr(
        "named_struct('id', id, 'op', 'c') AS s"
    ).selectExpr("to_json(s) AS v").selectExpr(
        "from_json(v, 'id long, op string') AS e"
    ).selectExpr("e.id").write.format("noop").mode("overwrite").save()
    spark.range(1000).selectExpr(
        "id % 7 AS g", "CAST(id AS DECIMAL(12,4)) AS d"
    ).selectExpr(
        "g", "sum(d) OVER (PARTITION BY g ORDER BY d) AS rs"
    ).groupBy("g").agg({"rs": "sum"}).write.format("noop").mode("overwrite").save()
    # (the pyspark.ml warmup is gone with its last user: IVF/PQ fits
    # now run driver-side in numpy on their bounded samples)
    load_before = os.getloadavg()[0]
    cpu_before = _cpu_stat()
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES + EXTENDED_QUERIES:
        timings[name] = run_one(spark, name, sf_dir)
    headline = round(sum(timings[n] for n in BENCH_QUERIES), 3)
    total = round(sum(timings.values()), 3)
    # Two JSON lines, full detail FIRST, compact summary LAST: the
    # driver retains only the final ~2000 output chars, and round 5's
    # single 86-query line lost its leading summary keys to that
    # window (BENCH_r05 parsed: null). The last line is small enough
    # to always survive the tail whole — it carries every contract
    # key (metric/value/unit/queries/sf) with `queries` restricted to
    # the 18 headline (ratchet) queries; the first line still records
    # every per-query timing for humans and diffing.
    print(
        json.dumps(
            {
                "detail": "all_query_timings",
                "per_query_agg": "warm1_min_of_2",  # untimed warm pass first; see run_one
                "queries": timings,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "query suite wall time (headline18_sec is the round-over-round ratchet)",
                "value": total,
                "unit": "sec",
                "headline18_sec": headline,
                "queries": {n: timings[n] for n in BENCH_QUERIES},
                "n_extended_queries": len(timings) - len(BENCH_QUERIES),
                "extended_total_sec": round(total - headline, 3),
                "sf": sf,
                # ambient 1-min load average at start/end: this host
                # injects CPU-steal bursts (round-3 finding: same
                # query, same code, 1.9s vs 42.9s), so per-query
                # deltas across rounds should be read against the
                # load context, not as code regressions by default
                "loadavg_before": round(load_before, 2),
                "loadavg_after": round(os.getloadavg()[0], 2),
                # hypervisor CPU steal across the whole run: loadavg
                # misses bursty steal entirely (round-6 finding: same
                # commit, idle box, headline 13.4s vs 23.1s), so the
                # run-wide steal fraction is the honest noise label
                "steal_pct": _steal_pct(cpu_before, _cpu_stat()),
            }
        )
    )
    spark.stop()


def _cpu_stat() -> list[int]:
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except Exception:  # non-linux
        return []


def _steal_pct(before: list[int], after: list[int]) -> float | None:
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return round(100.0 * d[7] / total, 2) if total > 0 else None


if __name__ == "__main__":
    main()
