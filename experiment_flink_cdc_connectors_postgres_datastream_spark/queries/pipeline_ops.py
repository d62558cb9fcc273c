"""Training-data pipeline queries beyond the round-1 surface: context
chunking, sequence packing, repetition/quality signals, text
normalization, percentile-band filtering, interval joins, and
train/eval contamination checks.

These are the corpus-shaping steps between raw documents and a
training run (the §7.4 extension families); each is a registered
query with a DuckDB oracle except sequence packing, whose greedy scan
is not SQL-expressible (rows-only check + pytest properties).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from experiment_flink_cdc_connectors_postgres_datastream_spark.io import load_table
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.chunking import chunk_documents, pack_sequences
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import contamination_check, shingle_hashes
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.temporal import interval_join
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.text import (
    GOPHER_MAX_MEAN_WORD_LEN,
    GOPHER_MAX_SYMBOL_RATIO,
    GOPHER_MAX_TOP1_FRAC,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA_FRAC,
    GOPHER_MIN_MEAN_WORD_LEN,
    GOPHER_MIN_WORDS,
    gopher_quality,
    normalize_text,
    repetition_features,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.queries.registry import register


@register(
    "doc_chunking",
    r"""
    WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
               FROM documents),
    s AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks), 1), 24)) AS start
          FROM t)
    SELECT doc_id,
           CAST((start - 1) / 24 AS INT) AS chunk_id,
           CAST(len(list_slice(toks, start, start + 31)) AS INT) AS n_tokens,
           array_to_string(list_slice(toks, start, start + 31), ' ') AS chunk_text
    FROM s WHERE len(list_slice(toks, start, start + 31)) > 0
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 32-token windows, 8-token overlap
    (stride 24). Narrow map, zero shuffles."""
    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_size=32, overlap=8
    )


@register(
    "sequence_packing",
    r"""
    WITH RECURSIVE counted AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 8 AS INT) AS pack_group
      FROM documents),
    ordered AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY pack_group ORDER BY doc_id) AS INT) AS rn
      FROM counted),
    packed AS (
      SELECT pack_group, doc_id, n_tokens, rn,
             0 AS local_bin, CAST(n_tokens AS BIGINT) AS fill
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.pack_group, o.doc_id, o.n_tokens, o.rn,
             CASE WHEN p.fill + o.n_tokens > 256 THEN p.local_bin + 1 ELSE p.local_bin END,
             CASE WHEN p.fill + o.n_tokens > 256 THEN CAST(o.n_tokens AS BIGINT)
                  ELSE p.fill + o.n_tokens END
      FROM packed p JOIN ordered o ON o.pack_group = p.pack_group AND o.rn = p.rn + 1)
    SELECT pack_group,
           CAST(pack_group + local_bin * 8 AS BIGINT) AS bin_id,
           doc_id, n_tokens,
           CAST(MAX(fill) OVER (PARTITION BY pack_group, local_bin) AS BIGINT) AS bin_fill
    FROM packed
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing (budget 256): one row per
    doc with its assigned bin. Graded variant pins ``n_groups=8`` so
    the DuckDB oracle — a recursive CTE that replays the same greedy
    next-fit scan over the same md5 groups, one recursion step per row
    rank — is value-identical; the production default derives
    ``n_groups`` from the input (`derive_pack_groups`)."""
    return pack_sequences(
        load_table(spark, sf_dir, "documents"),
        budget=256,
        n_groups=8,
    )


@register(
    "repetition_ratio",
    r"""
    WITH g AS (
      SELECT doc_id, source,
             list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
      FROM (SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS toks
            FROM documents))
    SELECT doc_id, source,
           CAST(len(grams) AS INT) AS n_ngrams,
           CAST(len(list_distinct(grams)) AS INT) AS n_distinct_ngrams,
           CASE WHEN len(grams) > 0
                THEN ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                           / CAST(len(grams) AS DOUBLE), 6)
                ELSE 0.0 END AS repetition_ratio
    FROM g
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-trigram ratio per doc (boilerplate signal)."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_features(docs, n=3).select(
        "doc_id", "source", "n_ngrams", "n_distinct_ngrams", "repetition_ratio"
    )


@register(
    "normalize_text",
    r"""
    SELECT doc_id, norm AS norm_text, md5(norm) AS norm_fp
    FROM (SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text), '[^\x20-\x7e]', ' ', 'g'),
                                     '\s+', ' ', 'g')) AS norm
          FROM documents)
    """,
)
def normalize_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical cleanup (lowercase, ASCII-printable, collapsed
    whitespace) + md5 fingerprint of the normal form."""
    docs = load_table(spark, sf_dir, "documents")
    return normalize_text(docs).select(
        "doc_id", "norm_text", F.md5("norm_text").alias("norm_fp")
    )


@register(
    "length_band_filter",
    """
    WITH th AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
                       quantile_cont(n_chars, 0.95) AS hi
                FROM documents)
    SELECT source, COUNT(1) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents, th
    WHERE n_chars BETWEEN lo AND hi
    GROUP BY source
    """,
)
def length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-band length filter (drop the shortest/longest 5%):
    the thresholds are a single-row aggregate broadcast against the
    corpus — two passes, no driver collect."""
    docs = load_table(spark, sf_dir, "documents")
    th = docs.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(th))
        .filter(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("sum_chars"))
    )


@register(
    "interval_join_counts",
    """
    SELECT c.user_id, COUNT(1) AS n_pairs
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '10 minutes'
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY c.user_id
    """,
)
def interval_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join (time-bucketed equi-join, not a per-key
    range probe): purchases within 10 minutes after each click,
    counted per user."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    pairs = interval_join(
        clicks, purchases, ["user_id"], "ts", "ts", 0, 600_000_000
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


@register(
    "hash_sample_per_group",
    """
    SELECT event_type, event_id, user_id
    FROM (SELECT event_type, event_id, user_id,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
          FROM events)
    WHERE rn <= 20
    """,
)
def hash_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform per-group sampling: rank by a content
    hash instead of rand() — reproducible across engines and runs
    (md5 exists in both Spark and DuckDB, so the oracle draws the
    SAME sample). The reservoir-sampling alternative is
    order-dependent; hash-rank sampling is the restartable,
    audit-friendly form a data pipeline wants.

    TWO-PHASE top-k, never a whole-group sort on one task (groups are
    few and huge — a single per-group rank window serializes each
    group through one partition): phase 1 takes the top-k within each
    (group, salt) slice — 32-way parallel, salt from a hash of the
    row id so it's deterministic — and phase 2 ranks only the
    surviving salt×k rows per group (tiny). The global top-k per
    group is always contained in the union of per-slice top-ks, so
    the result is IDENTICAL to the single-window form (same
    (md5, event_id) order; the unchanged single-window oracle grades
    that equivalence)."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.scale import two_phase_topk

    ev = load_table(spark, sf_dir, "events")
    return two_phase_topk(
        ev.select("event_type", "event_id", "user_id"),
        ["event_type"],
        [F.md5(F.col("event_id").cast("string")), F.col("event_id")],
        k=20,
        salt_col=F.xxhash64("event_id"),
    ).drop("rn")


@register(
    "salted_agg_demo",
    """
    SELECT event_type,
           COUNT(1) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_uid,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
)
def salted_agg_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (salted partial → final) made
    first-class: results are identical to the plain GROUP BY the
    oracle runs — the salt only changes the shuffle shape, splitting
    a hot key over 16 subkeys so no single task owns it."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.scale import salted_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("event_type", "count"),
            "sum_uid": ("user_id", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
        salt=16,
    )


@register(
    "contamination_check",
    r"""
    WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
               FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(
                     range(1, greatest(len(toks) - 4, 0) + 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                          || toks[i+3] || ' ' || toks[i+4]))) AS sh
          FROM t),
    ev AS (SELECT * FROM g WHERE doc_id % 50 = 0),
    corp AS (SELECT DISTINCT sh FROM g WHERE doc_id % 50 <> 0)
    SELECT ev.doc_id,
           COUNT(1) AS n_grams,
           CAST(SUM(CASE WHEN corp.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           ROUND(CAST(SUM(CASE WHEN corp.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(1), 6) AS contaminated_frac
    FROM ev LEFT JOIN corp ON ev.sh = corp.sh
    GROUP BY ev.doc_id
    """,
)
def contamination_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval 5-gram contamination: eval set = every 50th doc,
    corpus = the rest; fraction of eval shingles present in the
    corpus' distinct-shingle set."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_check(corpus, ev, n=5)


@register(
    "train_val_test_split",
    """
    WITH t AS (
      SELECT source,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT source, split, CAST(COUNT(1) AS BIGINT) AS n_docs
    FROM t GROUP BY source, split
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test split by content hash:
    the first md5 byte of the doc id partitions [00,cc)/[cc,e6)/[e6,ff]
    — reproducible across engines, runs, restarts and table growth
    (a doc's split never changes when new docs arrive, unlike
    randomSplit). Pure narrow map + one aggregation; the split column
    is also exactly what a partitioned writer would bucket by."""
    docs = load_table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "cc", F.lit("train"))
        .when(h2 < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "epoch_shuffle",
    r"""
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15)) AS BIGINT) AS hh
      FROM documents)
    SELECT doc_id, CAST(hh % 16 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY hh % 16 ORDER BY hh, doc_id) AS BIGINT)
             AS rank_in_shard
    FROM h
    """,
)
def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle for training consumption: every doc
    gets a (shard, rank_in_shard) position derived from a seeded hash
    (seed 0 here; vary the seed per epoch). Two-level on purpose — a
    GLOBAL row_number would funnel the corpus through one window
    partition, while per-shard ranks keep the sort parallel (shards ≫
    cores at 100 TB) and match how training jobs actually consume
    data: shard files, locally ordered. md5-prefix hash so the order
    is reproducible in any engine."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import md5_long
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":0"))).alias("hh"),
    )
    w = Window.partitionBy("shard").orderBy("hh", "doc_id")
    return (
        h.withColumn("shard", F.pmod(F.col("hh"), F.lit(16)).cast("bigint"))
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("rank_in_shard"),
        )
    )


@register(
    "boilerplate_removal",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    toks AS (SELECT doc_id, unnest(w) AS word, unnest(range(1, len(w)+1)) AS pos FROM words),
    segs AS (SELECT doc_id, (pos-1)//3 AS seg_idx,
                    string_agg(word, ' ' ORDER BY pos) AS seg
             FROM toks GROUP BY doc_id, (pos-1)//3),
    boiler AS (SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 5),
    kept AS (SELECT s.* FROM segs s WHERE s.seg NOT IN (SELECT seg FROM boiler)),
    clean AS (SELECT doc_id, COUNT(*) AS n_kept,
                     string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
              FROM kept GROUP BY doc_id),
    totals AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id)
    SELECT t.doc_id, t.n_segs, COALESCE(c.n_kept, 0) AS n_kept,
           COALESCE(c.clean_text, '') AS clean_text
    FROM totals t LEFT JOIN clean c USING (doc_id)
    """,
)
def boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level dedup over the corpus: repeated 3-word
    segments ("lines" — the corpus has no newlines) appearing in ≥5
    distinct documents are boilerplate and removed; each document is
    reassembled from its surviving segments in order. See
    operators/dedup.py:remove_boilerplate_segments for the 100-TB
    shape (broadcast anti-join of the small high-df segment set)."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import remove_boilerplate_segments

    docs = load_table(spark, sf_dir, "documents")
    return remove_boilerplate_segments(docs, seg_len=3, min_docs=5)


#: shared oracle CTE for the Gopher rule battery: one tokenization,
#: every metric derived from it with the same operand order as the
#: Spark column expressions (int/int divisions — bit-reproducible).
_GOPHER_METRICS_SQL = r"""
    WITH t AS (
      SELECT doc_id, source, text,
             regexp_split_to_array(lower(text), '\s+') AS toks
      FROM documents),
    m AS (
      SELECT doc_id, source,
             CAST(len(toks) AS INT) AS n_words,
             CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS mean_word_len,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS alpha_frac,
             CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                                  s -> list_contains(toks, s))) AS INT) AS stop_hits,
             CAST(list_max(list_transform(list_distinct(toks),
                    x -> len(list_filter(toks, w -> w = x)))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS top1_frac,
             CAST((length(text) - length(replace(text, '#', ''))
                   + len(regexp_extract_all(text, '\.\.\.'))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS symbol_ratio
      FROM t)
"""


@register(
    "gopher_quality_flags",
    _GOPHER_METRICS_SQL
    + r"""
    SELECT doc_id, source, n_words, mean_word_len, alpha_frac,
           stop_hits, top1_frac, symbol_ratio,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
            AND stop_hits >= 1 AND top1_frac <= 0.2) AS keep_gopher
    FROM m
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality battery per document (Rae et al. 2021
    §A1.1): word-count / mean-word-length bounds, symbol-to-word
    ratio, alphabetic-word fraction, stopword presence, mode-token
    concentration, and the conjunction keep flag. Generalizes the
    reference's text path (StreamingJob.java:105-112) into the
    standard published pretraining quality filter. Zero shuffles —
    a narrow codegen'd map over the scan. The stopword-presence
    threshold is calibrated to 1 for this synthetic corpus (its
    vocabulary carries at most one distinct Gopher marker per doc);
    the operator default keeps the paper's 2."""
    docs = load_table(spark, sf_dir, "documents")
    return gopher_quality(docs, min_stop_hits=1).select(
        "doc_id",
        "source",
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "stop_hits",
        "top1_frac",
        "symbol_ratio",
        "keep_gopher",
    )


@register(
    "quality_filter_funnel",
    _GOPHER_METRICS_SQL
    + r"""
    SELECT stage_idx, stage, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (
      SELECT CASE
               WHEN n_words < 50 OR n_words > 100000 THEN 1
               WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 2
               WHEN symbol_ratio > 0.1 THEN 3
               WHEN alpha_frac < 0.8 THEN 4
               WHEN stop_hits < 1 THEN 5
               WHEN top1_frac > 0.2 THEN 6
               ELSE 7 END AS stage_idx,
             CASE
               WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
               WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'mean_word_len'
               WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
               WHEN alpha_frac < 0.8 THEN 'alpha_frac'
               WHEN stop_hits < 1 THEN 'stop_hits'
               WHEN top1_frac > 0.2 THEN 'top1_frac'
               ELSE 'kept' END AS stage
      FROM m)
    GROUP BY stage_idx, stage
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-attribution funnel over the Gopher battery: each document
    is charged to the FIRST rule it fails (fixed published rule
    order), 'kept' otherwise — the per-rule removal accounting a
    curation run reports. One narrow map + one tiny hash aggregation
    (≤7 groups); map-side partial combine makes this scan-bound at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    g = gopher_quality(docs, min_stop_hits=1)
    wc_fail = (F.col("n_words") < GOPHER_MIN_WORDS) | (
        F.col("n_words") > GOPHER_MAX_WORDS
    )
    mwl_fail = (F.col("mean_word_len") < GOPHER_MIN_MEAN_WORD_LEN) | (
        F.col("mean_word_len") > GOPHER_MAX_MEAN_WORD_LEN
    )
    sym_fail = F.col("symbol_ratio") > GOPHER_MAX_SYMBOL_RATIO
    alpha_fail = F.col("alpha_frac") < GOPHER_MIN_ALPHA_FRAC
    stop_fail = F.col("stop_hits") < 1
    top1_fail = F.col("top1_frac") > GOPHER_MAX_TOP1_FRAC
    stage_idx = (
        F.when(wc_fail, F.lit(1))
        .when(mwl_fail, F.lit(2))
        .when(sym_fail, F.lit(3))
        .when(alpha_fail, F.lit(4))
        .when(stop_fail, F.lit(5))
        .when(top1_fail, F.lit(6))
        .otherwise(F.lit(7))
    )
    stage = (
        F.when(wc_fail, F.lit("word_count"))
        .when(mwl_fail, F.lit("mean_word_len"))
        .when(sym_fail, F.lit("symbol_ratio"))
        .when(alpha_fail, F.lit("alpha_frac"))
        .when(stop_fail, F.lit("stop_hits"))
        .when(top1_fail, F.lit("top1_frac"))
        .otherwise(F.lit("kept"))
    )
    return (
        g.select(stage_idx.alias("stage_idx"), stage.alias("stage"))
        .groupBy("stage_idx", "stage")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "mixture_sample_hash",
    """
    WITH rated AS (
      SELECT doc_id, source,
             100 + (COALESCE(TRY_CAST(substr(source, 4) AS INT), LENGTH(source)) * 50) % 900 AS rate_permille,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 15)) AS BIGINT) % 1000 AS bucket
      FROM documents)
    SELECT source,
           CAST(MIN(rate_permille) AS INT) AS rate_permille,
           CAST(COUNT(1) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN bucket < rate_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN bucket < rate_permille THEN doc_id ELSE 0 END) AS BIGINT) AS kept_checksum
    FROM rated GROUP BY source
    """,
)
def mixture_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WINDOWLESS scale form of `mixture_sample` (behavior_ops),
    made first-class: that twin hash-RANKS within each source for
    exact per-source counts (a per-source window shuffle); here a
    document survives iff the md5-prefix hash of ``doc_id:source``
    falls under the source's keep-rate (permille; a deterministic
    function of the source name standing in for the trainer's
    mixture-weight table) — approximate counts (binomial around the
    rate), but reproducible and restart-stable (a doc's fate never
    changes across runs or as the corpus grows, unlike ``sample()``),
    and the decision is a pure narrow map: ZERO shuffles before the
    one readout aggregation — at 100 TB the window twin re-shuffles
    the corpus, this one never does. ``kept_checksum`` grades the exact kept SET,
    not just the per-source counts. In production the rate column
    joins in from a broadcast mixture-weights dim instead of the
    name-derived stand-in."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import md5_long

    docs = load_table(spark, sf_dir, "documents")
    # TRY_CAST/coalesce on BOTH engines: a source name without a
    # numeric suffix must fall back to a length-derived rate. Under
    # Spark 4's default ANSI mode a plain cast THROWS on a non-numeric
    # suffix (the coalesce fallback would be unreachable and the
    # engines diverge: oracle succeeds, Spark errors — ADVICE r7);
    # try_cast returns NULL exactly like the oracle's TRY_CAST.
    suffix = F.coalesce(
        F.substring(F.col("source"), 4, 10).try_cast("int"), F.length("source")
    )
    rate = (F.lit(100) + (suffix * 50) % 900).alias("rate_permille")
    bucket = F.pmod(
        md5_long(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("source"))), F.lit(1000)
    )
    kept = (bucket < F.col("rate_permille")).cast("long")
    return (
        docs.select("doc_id", "source", rate)
        .select("doc_id", "source", "rate_permille", kept.alias("_kept"))
        .groupBy("source")
        .agg(
            F.min("rate_permille").cast("int").alias("rate_permille"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum("_kept").alias("n_kept"),
            F.sum(F.col("_kept") * F.col("doc_id")).alias("kept_checksum"),
        )
    )


@register(
    "salted_join_agg",
    """
    WITH dim AS (SELECT DISTINCT event_type, LENGTH(event_type) AS type_len FROM events)
    SELECT e.event_type, d.type_len,
           CAST(COUNT(1) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 3) AS total_value
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type, d.type_len
    """,
)
def salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe SALTED JOIN made first-class (`operators.scale.
    salted_join`), hash-matching the plain-join oracle — the proof the
    salt is value-neutral. The fact stream joins a dimension on
    event_type (cardinality 5: every key is hot — the 100× version of
    the reference's keyBy(pg-schema)); the big side takes a row-local
    salt, the dim replicates `salt` ways, and the join keys become
    (event_type, _salt) so no single shuffle partition owns a key.
    The merge hint models the real target case — a dim too big to
    broadcast (a broadcast join would bypass the skewed shuffle
    entirely and need no salt). The 3-decimal ROUND absorbs
    summation-order float skew, as in `tumbling_window`."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.scale import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    dim = (
        ev.select("event_type").distinct().withColumn("type_len", F.length("event_type"))
    ).hint("merge")
    joined = salted_join(ev, dim, ["event_type"], salt=8)
    return joined.groupBy("event_type", "type_len").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 3).alias("total_value"),
    )


@register(
    "token_budget_selection",
    r"""
    WITH scored AS (
      SELECT source, doc_id, n_chars,
             len(regexp_split_to_array(lower(text), '\s+')) AS n_tok
      FROM documents),
    cum AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM scored)
    SELECT source,
           CAST(COUNT(1) AS BIGINT) AS n_selected,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_used,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_checksum
    FROM cum WHERE cum_tok <= 2000
    GROUP BY source
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget curation: rank documents by a quality
    proxy (here n_chars — longer docs first, the stand-in for a model
    score column), take them greedily until the source's token budget
    (2000) is spent — the 'best docs under a budget' selection every
    mixture builder runs per source. STRICT budget: a doc whose
    tokens would overflow the budget is skipped along with everything
    after it (prefix-sum cutoff, deterministic via the total
    (n_chars DESC, doc_id) order).

    Scale shape — TWO-LEVEL prefix sum, never a whole-source sort on
    one task (a naive per-source running-sum window serializes each
    source through a single partition — sources are few and huge, the
    textbook window skew): (1) aggregate token totals per
    (source, quality level) — a tiny table, source × distinct score;
    (2) the coarse running sum windows over THAT aggregate; (3) a
    broadcast join hands every doc its prefix total from all
    strictly-better levels; (4) the fine running sum windows only
    WITHIN a (source, level) tie group — partition count = the
    aggregate's, each a tie group, not a source. Identical totals to
    the single-window form (same (quality DESC, doc_id) order), and
    the only full-corpus shuffle left is the per-level tie window.
    The doc_id_checksum grades the exact selected set."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower(F.col("text")), r"\s+"))
    scored = docs.select("source", "doc_id", "n_chars", n_tok.alias("n_tok"))
    # (1) per-(source, level) totals: small by construction
    levels = scored.groupBy("source", "n_chars").agg(F.sum("n_tok").alias("lvl_tok"))
    # (2) coarse prefix: tokens in all strictly-better levels
    w_lvl = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    levels = levels.withColumn(
        "cum_before", F.sum("lvl_tok").over(w_lvl) - F.col("lvl_tok")
    )
    # (3)+(4) fine prefix inside the tie group only
    w_tie = (
        Window.partitionBy("source", "n_chars")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        scored.join(F.broadcast(levels.select("source", "n_chars", "cum_before")),
                    ["source", "n_chars"])
        .withColumn("cum_tok", F.col("cum_before") + F.sum("n_tok").over(w_tie))
    )
    return (
        cum.filter(F.col("cum_tok") <= 2000)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_tok").alias("tokens_used"),
            F.sum("doc_id").alias("doc_id_checksum"),
        )
    )


@register(
    "priority_sample_per_source",
    """
    WITH pr AS (
      SELECT source, doc_id, n_chars,
             CAST(n_chars AS DOUBLE) /
               (CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':prio'), 1, 15)) AS BIGINT) + 1
                     AS DOUBLE) / 1152921504606846976.0) AS priority
      FROM documents),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rn
      FROM pr),
    t AS (
      SELECT *, COALESCE(MAX(CASE WHEN rn = 9 THEN priority END)
                         OVER (PARTITION BY source), 0.0) AS tau
      FROM r WHERE rn <= 9),
    tot AS (SELECT source, SUM(n_chars) AS exact_weight FROM documents GROUP BY source)
    SELECT t.source,
           CAST(COUNT(1) AS BIGINT) AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT) AS sample_id_checksum,
           CAST(MIN(tot.exact_weight) AS BIGINT) AS exact_weight,
           ROUND(SUM(GREATEST(CAST(n_chars AS DOUBLE), tau)), 3) AS est_weight
    FROM t JOIN tot ON tot.source = t.source
    WHERE rn <= 8
    GROUP BY t.source
    """,
)
def priority_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement by PRIORITY SAMPLING
    (Duffield, Lund & Thorup 2007): each document draws priority
    ``w / u`` with weight ``w = n_chars`` (the stand-in for a model
    quality score) and ``u`` uniform on (0,1]; the per-source sample
    is the top-k priorities (k=8), and the (k+1)-th priority is the
    threshold tau that makes ``sum(max(w, tau))`` over the sample an
    unbiased estimator of the source's TOTAL weight — the estimator
    and the exact total are emitted side by side, so the driver hash
    grades both the exact sampled SET and the estimator arithmetic.

    Determinism across engines with no libm dependency: ``u = (h+1) /
    2^60`` from the md5-prefix hash (exact power-of-two division) and
    ``w / u`` are single correctly-rounded IEEE ops, so priorities
    are bit-identical in Spark and DuckDB — unlike an Efraimidis-
    Spirakis ``u^(1/w)`` key, no transcendental function sits on the
    grading path. A rerun, a task retry, or a corpus append never
    changes an existing document's priority (reproducible sampling,
    same property as `mixture_sample_hash`).

    Scale shape: the rank runs through `two_phase_topk` ((source,
    salt)-slice rank, then the <= salt*k survivors per source) — no
    whole-source window sort on one task; everything after the rank
    touches <= 9 rows per source. Sources with <= k documents degrade
    cleanly: tau = 0 and the estimator equals the exact total."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import md5_long
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.scale import two_phase_topk
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":prio")))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    pr = docs.select(
        "source", "doc_id", "n_chars",
        (F.col("n_chars").cast("double") / u).alias("priority"),
    )
    topk = two_phase_topk(
        pr,
        ["source"],
        [F.desc("priority"), F.col("doc_id")],
        k=9,
        salt_col=F.xxhash64("doc_id"),
    )
    tau = F.coalesce(
        F.max(F.when(F.col("rn") == 9, F.col("priority"))).over(
            Window.partitionBy("source")
        ),
        F.lit(0.0),
    )
    sampled = topk.withColumn("tau", tau).filter(F.col("rn") <= 8)
    totals = docs.groupBy("source").agg(F.sum("n_chars").alias("exact_weight"))
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("sample_id_checksum"),
            F.round(
                F.sum(F.greatest(F.col("n_chars").cast("double"), F.col("tau"))), 3
            ).alias("est_weight"),
        )
        .join(F.broadcast(totals), "source")
        .select(
            "source", "n_sampled", "sample_id_checksum",
            F.col("exact_weight").cast("long").alias("exact_weight"),
            "est_weight",
        )
    )


@register(
    "dsir_importance_weights",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(toks) AS gram FROM toks
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM toks),
    f AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 1024 AS b
      FROM g),
    db AS (SELECT doc_id, b, COUNT(1) AS c FROM f GROUP BY doc_id, b),
    tgt AS (
      SELECT b, SUM(c) AS ct FROM db
      JOIN documents d ON d.doc_id = db.doc_id AND d.lang = 'en'
      GROUP BY b),
    raw AS (SELECT b, SUM(c) AS cr FROM db GROUP BY b),
    lr AS (
      SELECT raw.b,
             CAST(FLOOR((LN(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE))
                         - LN(CAST(tt.v + 1024 AS DOUBLE))
                         - LN(CAST(raw.cr + 1 AS DOUBLE))
                         + LN(CAST(tr.v + 1024 AS DOUBLE))) * 1000000.0) AS BIGINT) AS micro
      FROM raw
      LEFT JOIN tgt ON tgt.b = raw.b,
      (SELECT SUM(ct) AS v FROM tgt) tt,
      (SELECT SUM(cr) AS v FROM raw) tr)
    SELECT d.doc_id, d.source, d.lang,
           CAST(SUM(db.c) AS BIGINT) AS n_grams,
           CAST(SUM(db.c * lr.micro) AS BIGINT) AS log_w_micro
    FROM db JOIN lr ON lr.b = db.b JOIN documents d ON d.doc_id = db.doc_id
    GROUP BY d.doc_id, d.source, d.lang
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023): per-document importance log-weights under hashed n-gram
    (unigram + bigram) bag-of-words language models of a TARGET
    domain (here ``lang = 'en'``, the stand-in for a curated
    high-quality slice) versus the RAW corpus. Each gram hashes into
    B=1024 buckets; bucket b scores ``log p_target(b) - log
    p_raw(b)`` with Laplace smoothing (+1 count, +B total), and a
    document's log-weight is the sum over its gram OCCURRENCES —
    the resampling key a DSIR curation pass feeds into top-k /
    Gumbel sampling.

    Cross-engine determinism: each bucket's log-ratio is quantized to
    integer MICRO-units (floor(x * 1e6) -> BIGINT) before the per-doc
    sum, so the corpus-wide aggregation is exact integer arithmetic —
    order-independent across partitions and engines (the
    `label_centroids` / `embedding_int8_quant` trick); the only
    float ops are four LN calls per distinct bucket evaluated in an
    identical expression tree on both engines.

    Scale shape: one corpus-size shuffle builds the (doc, bucket)
    occurrence table; both distribution tables aggregate map-side to
    <= 1024 rows and broadcast back (with their scalar totals) for the
    per-doc weight sum — no corpus-size join keyed on anything but
    hashes, no windows. The bucket count (not vocabulary size) bounds
    every model table, which is the point of hashed DSIR at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    # unigram and bigram occurrences from ONE tokenize pass and one
    # window shuffle (shingle_hashes' multi-order form)
    feats = shingle_hashes(docs, n=(1, 2), distinct=False, hash_family="md5").select(
        "_id", F.pmod(F.col("_sh"), F.lit(1024)).alias("b")
    )
    # (doc, bucket) occurrence counts: the one corpus-size shuffle.
    # Lazy localCheckpoint: db feeds the target model, the raw model
    # AND the final weight sum — without it each consumer replays the
    # tokenize+shingle+shuffle lineage from the parquet scan (the
    # `ngram_jaccard_pairs` reuse pattern)
    db = (
        feats.groupBy("_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    meta = docs.select("doc_id", "source", "lang")
    tgt = (
        db.join(meta.filter(F.col("lang") == "en").select(F.col("doc_id").alias("_id")), "_id")
        .groupBy("b").agg(F.sum("c").alias("ct"))
    )
    raw = db.groupBy("b").agg(F.sum("c").alias("cr"))
    # scalar totals as 1-row broadcast crossJoins (tiny aggregates)
    tt = tgt.agg(F.sum("ct").alias("tt"))
    tr = raw.agg(F.sum("cr").alias("tr"))
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "b",
            F.floor(
                (
                    F.log((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast("double"))
                    - F.log((F.col("tt") + F.lit(1024)).cast("double"))
                    - F.log((F.col("cr") + F.lit(1)).cast("double"))
                    + F.log((F.col("tr") + F.lit(1024)).cast("double"))
                )
                * F.lit(1000000.0)
            ).cast("long").alias("micro"),
        )
    )
    return (
        db.join(F.broadcast(lr), "b")
        .groupBy("_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c") * F.col("micro")).alias("log_w_micro"),
        )
        .join(meta, F.col("_id") == F.col("doc_id"))
        .select("doc_id", "source", "lang", "n_grams", "log_w_micro")
    )


def _isqrt_micro_sql(big: str) -> str:
    """Exact integer sqrt correction, rendered for either dialect:
    ``base + sum(indicators)`` picks the largest ``c`` in
    ``[base, base+6]`` with ``c*c <= total_tokens * 10^12`` using only
    wide-integer compares (``big`` = DECIMAL(38,0) on Spark, HUGEINT
    on DuckDB). ``base = greatest(float_guess - 3, 0)`` so the float
    SQRT only has to land within 3 of the true root — even a sloppy
    pow-routed sqrt is orders of magnitude better than that — and the
    graded value is decided entirely by integer arithmetic.

    Monotonicity of the indicator sum needs non-negative candidates,
    hence the clamp to 0 (total_tokens = 0 must yield 0, not chase
    negative candidates whose squares are not monotone)."""
    n = f"CAST(total_tokens AS {big}) * 1000000000000"
    terms = " + ".join(
        f"CAST(CAST(base + {k} AS {big}) * (base + {k}) <= {n} AS BIGINT)"
        for k in range(1, 7)
    )
    return f"base + {terms}"


@register(
    "temperature_mixture_weights",
    rf"""
    WITH s AS (
      SELECT source,
             CAST(SUM(len(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source),
    g AS (
      SELECT source, total_tokens,
             GREATEST(CAST(FLOOR(SQRT(CAST(total_tokens AS DOUBLE)) * 1000000) AS BIGINT) - 3,
                      CAST(0 AS BIGINT)) AS base
      FROM s WHERE total_tokens > 0),
    q AS (
      SELECT source, total_tokens,
             CAST({_isqrt_micro_sql('HUGEINT')} AS BIGINT) AS sqrt_micro
      FROM g)
    SELECT source, total_tokens, sqrt_micro,
           CAST(CAST(sqrt_micro AS HUGEINT) * 1000000
                // CAST((SELECT SUM(sqrt_micro) FROM q) AS HUGEINT) AS BIGINT) AS weight_ppm
    FROM q
    """,
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multi-source sampling weights, the UniMax /
    multilingual-LM mixing rule at alpha = 0.5: a source's sampling
    weight is proportional to its token count raised to the
    temperature (sqrt at 0.5), flattening the head sources so
    low-resource ones are not drowned. (`mixture_sample` consumes
    per-source rates; THIS query is where those rates come from.)

    Exactness (round-9 rework — the round-8 form was the driver's one
    red row): sqrt_micro is now the EXACT integer sqrt
    floor(sqrt(total_tokens * 10^12)), computed as a float guess plus
    a ±3 integer correction window in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) compares — see `_isqrt_micro_sql`. The floating
    SQRT is off the grading path entirely: any sqrt within 3 of the
    true root yields the identical value, so a pow-routed libm sqrt
    (the round-8 divergence suspect) cannot move the hash. All later
    steps (sum, scaled floor-division) are wide-integer arithmetic
    with every output column explicitly CAST to BIGINT — DuckDB's
    SUM(BIGINT) returns HUGEINT, and an uncast HUGEINT floor-division
    output was the other round-8 suspect.

    Scale shape: one partial-agg shuffle on source for the token
    totals (map-side combine does the heavy lifting); the ppm
    normalization joins the per-source rows against a 1-row broadcast
    total — no second full shuffle. The DECIMAL(38,0) ppm scaling
    holds to ~10^25, far past any per-source bigint token count.

    Degenerate input: a source whose documents tokenize to zero (or
    all-NULL) total tokens is excluded up front (total_tokens > 0 in
    both engines) — it has nothing to weight, and keeping it would
    put sqrt_micro = 0 on later division paths where DuckDB errors
    on // 0 while Spark's div returns NULL."""
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.select("source", F.size(F.split(F.lower("text"), r"\s+")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("total_tokens"))
        .filter(F.col("total_tokens") > 0)
    )
    g = s.withColumn(
        "base",
        F.greatest(
            F.floor(F.sqrt(F.col("total_tokens").cast("double")) * 1_000_000).cast("bigint")
            - F.lit(3),
            F.lit(0).cast("bigint"),
        ),
    )
    q = g.select(
        "source",
        "total_tokens",
        F.expr(f"CAST({_isqrt_micro_sql('DECIMAL(38,0)')} AS BIGINT)").alias("sqrt_micro"),
    )
    # the per-source table is tiny (one row per source) but its
    # lineage is a full corpus scan — cut it so the 1-row total
    # below reuses the materialized rows instead of re-scanning the
    # documents (the dsir_importance_weights pattern)
    q = q.localCheckpoint(eager=False)
    total = q.agg(F.sum("sqrt_micro").alias("_t"))
    return q.crossJoin(F.broadcast(total)).select(
        "source",
        "total_tokens",
        "sqrt_micro",
        F.expr(
            "CAST((CAST(sqrt_micro AS DECIMAL(38,0)) * 1000000) div _t AS BIGINT)"
        ).alias("weight_ppm"),
    )


@register(
    "mixture_budget_allocation",
    rf"""
    WITH s AS (
      SELECT source,
             CAST(SUM(len(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source),
    g AS (
      SELECT source, total_tokens,
             GREATEST(CAST(FLOOR(SQRT(CAST(total_tokens AS DOUBLE)) * 1000000) AS BIGINT) - 3,
                      CAST(0 AS BIGINT)) AS base
      FROM s WHERE total_tokens > 0),
    q AS (
      SELECT source, total_tokens,
             CAST({_isqrt_micro_sql('HUGEINT')} AS BIGINT) AS sqrt_micro
      FROM g),
    t AS (SELECT CAST(SUM(sqrt_micro) AS HUGEINT) AS tw FROM q),
    fl AS (
      SELECT source, total_tokens, sqrt_micro,
             CAST(CAST(sqrt_micro AS HUGEINT) * 1000000000 // t.tw AS BIGINT) AS quota_floor,
             CAST(CAST(sqrt_micro AS HUGEINT) * 1000000000
                  - (CAST(sqrt_micro AS HUGEINT) * 1000000000 // t.tw) * t.tw AS BIGINT) AS rem
      FROM q CROSS JOIN t),
    l AS (SELECT CAST(1000000000 - SUM(quota_floor) AS BIGINT) AS leftover FROM fl),
    r AS (
      SELECT fl.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk FROM fl)
    SELECT source, total_tokens, sqrt_micro,
           CAST(quota_floor + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT) AS quota_tokens
    FROM r CROSS JOIN l
    """,
)
def mixture_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed 10^9
    training-token budget across sources in proportion to the
    temperature-scaled weights — the step a mixing config actually
    ships: `temperature_mixture_weights` says WHAT the proportions
    are; this turns them into per-source integer token budgets that
    sum EXACTLY to the total (floor quotas + the largest fractional
    remainders get the leftover units, ties broken by source name).

    Everything is wide-integer arithmetic end to end: the exact
    integer sqrt weights (`_isqrt_micro_sql`), HUGEINT/DECIMAL(38,0)
    floor-division quotas, and remainders computed by
    multiply-and-subtract (no cross-engine `%` semantics on wide
    types in play). Sum(quota_tokens) == 10^9 by construction.

    Scale shape: one partial-agg shuffle on source; everything after
    runs on the per-source table (#sources rows — the remainder-rank
    window is over that tiny table, not the corpus).

    Zero-token sources are excluded up front (total_tokens > 0, both
    engines): they earn no budget, and excluding them keeps the
    quota divisions off sqrt_micro = 0 (DuckDB errors on integer
    // 0; Spark returns NULL — a latent cross-engine divergence)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    budget = 1_000_000_000
    s = (
        docs.select("source", F.size(F.split(F.lower("text"), r"\s+")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("total_tokens"))
        .filter(F.col("total_tokens") > 0)
    )
    g = s.withColumn(
        "base",
        F.greatest(
            F.floor(F.sqrt(F.col("total_tokens").cast("double")) * 1_000_000).cast("bigint")
            - F.lit(3),
            F.lit(0).cast("bigint"),
        ),
    )
    q = g.select(
        "source",
        "total_tokens",
        F.expr(f"CAST({_isqrt_micro_sql('DECIMAL(38,0)')} AS BIGINT)").alias("sqrt_micro"),
    ).localCheckpoint(eager=False)
    t = q.agg(F.sum("sqrt_micro").alias("tw"))
    fl = (
        q.crossJoin(F.broadcast(t))
        .withColumn(
            "quota_floor",
            F.expr(f"CAST((CAST(sqrt_micro AS DECIMAL(38,0)) * {budget}) div tw AS BIGINT)"),
        )
        .withColumn(
            "rem",
            F.expr(
                f"CAST(CAST(sqrt_micro AS DECIMAL(38,0)) * {budget} "
                f"- CAST(quota_floor AS DECIMAL(38,0)) * tw AS BIGINT)"
            ),
        )
        .localCheckpoint(eager=False)
    )
    leftover = fl.agg(
        F.expr(f"CAST({budget} - SUM(quota_floor) AS BIGINT)").alias("leftover")
    )
    r = fl.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("rem").desc(), "source"))
    )
    return r.crossJoin(F.broadcast(leftover)).select(
        "source",
        "total_tokens",
        "sqrt_micro",
        F.expr(
            "CAST(quota_floor + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("quota_tokens"),
    )


#: integer milli-weights of the fixed linear quality model (a
#: fastText-style "is this page worth training on" classifier,
#: hand-set to reward lexical diversity and penalize very long or
#: digit-heavy pages). Integer weights over integer features keep the
#: score exact on both engines.
QUALITY_W_TOKEN = 50
QUALITY_W_TYPE = 120
QUALITY_W_CHAR = -3
QUALITY_W_DIGIT = -400
QUALITY_BIAS = -2_000


@register(
    "quality_logreg_score",
    rf"""
    WITH f AS (
      SELECT source,
             CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT) AS n_typ,
             CAST(length(text) AS BIGINT) AS n_chr,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_dig
      FROM documents),
    s AS (
      SELECT source,
             {QUALITY_W_TOKEN} * n_tok + {QUALITY_W_TYPE} * n_typ
             + {QUALITY_W_CHAR} * n_chr + {QUALITY_W_DIGIT} * n_dig
             + {QUALITY_BIAS} AS score_milli
      FROM f)
    SELECT source,
           CAST(COUNT(1) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN score_milli > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(score_milli) AS BIGINT) AS score_checksum
    FROM s GROUP BY source
    """,
)
def quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering with a FIXED linear classifier —
    the shape of a fastText/logreg quality gate (CCNet, GPT-3's
    Common Crawl filter) with the training externalized: the engine's
    job is applying w·x over per-document features at corpus scale,
    and integer milli-weights over integer count-features make the
    decision boundary exactly reproducible cross-engine (a float
    sigmoid would hash-diverge; the sign of w·x is the same decision).

    Scale shape: per-document features are zero-shuffle codegen'd
    column ops on the documents scan; the only exchange is the
    partial-agg on source. At 100 TB this is the cheapest possible
    pass — exactly why linear gates run before any GPU-model scoring
    in production curation stacks."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    f = docs.select(
        "source",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_typ"),
        F.length("text").cast("bigint").alias("n_chr"),
        (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))).cast("bigint").alias("n_dig"),
    )
    score = (
        QUALITY_W_TOKEN * F.col("n_tok")
        + QUALITY_W_TYPE * F.col("n_typ")
        + QUALITY_W_CHAR * F.col("n_chr")
        + QUALITY_W_DIGIT * F.col("n_dig")
        + F.lit(QUALITY_BIAS)
    )
    return (
        f.select("source", score.alias("score_milli"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("score_milli") > 0).cast("bigint")).alias("n_pass"),
            F.sum("score_milli").alias("score_checksum"),
        )
    )


@register(
    "recency_decay_weights",
    """
    WITH m AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events),
    w AS (
      SELECT event_type,
             1000000 // (CAST(1 AS BIGINT) << LEAST(
               (m.max_us - epoch_us(ts)) // 86400000000 // 7, 40)) AS weight_ppm
      FROM events CROSS JOIN m)
    SELECT event_type,
           CAST(COUNT(1) AS BIGINT) AS n_events,
           CAST(SUM(weight_ppm) AS BIGINT) AS replay_weight_sum
    FROM w GROUP BY event_type
    """,
)
def recency_decay_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted replay sampling weights with a 7-day
    half-life: an event's weight halves per week of age relative to
    the newest event in the table — the standard freshness bias for
    continual-pretraining / replay-buffer mixing. Ages are integer
    microsecond arithmetic bucketed into whole weeks, and the decay is
    a bigint shift (1e6 >> weeks, clamped at 40 so the shift never
    overflows) — no float pow anywhere, so the weights hash-match
    cross-engine exactly.

    Scale shape: the 1-row max-timestamp aggregate broadcasts back
    over the scan (no second shuffle of the events), then one
    partial-agg exchange on event_type."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    m = ev.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    # integer division twice (days, then weeks), exactly as the
    # oracle; the shift needs SQL expr form (the Python shiftleft
    # helper takes only a literal bit count)
    w = ev.crossJoin(F.broadcast(m)).select(
        "event_type",
        F.expr(
            "1000000 div shiftleft(cast(1 as bigint), cast(least("
            "((max_us - unix_micros(ts)) div 86400000000) div 7, 40) as int))"
        ).alias("weight_ppm"),
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("weight_ppm").alias("replay_weight_sum"),
    )


@register(
    "quality_quantile_calibration",
    r"""
    WITH s AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_tok
      FROM documents),
    r AS (
      SELECT doc_id, source, n_tok,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rk,
             COUNT(1) OVER (PARTITION BY source) AS n_src
      FROM s)
    SELECT doc_id, source, n_tok,
           CAST((rk - 1) * 1000000 // GREATEST(n_src - 1, 1) AS BIGINT) AS calib_ppm
    FROM r
    """,
)
def quality_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rank calibration of a quality signal: a raw score's
    scale drifts across domains (a "good" web page and a "good" code
    file score differently), so a global keep-threshold over-prunes
    some sources and under-prunes others. The standard fix is
    quantile normalization WITHIN each source — map every doc to its
    per-source rank quantile, then threshold the calibrated score
    globally (each source then sheds the same fraction).

    Exactness: the quantile is pure integer arithmetic —
    (rank-1)·10^6 // max(n-1, 1) with rank ties broken by doc_id —
    so min maps to 0, max to exactly 10^6, and both engines floor
    identically (BIGINT·BIGINT stays BIGINT; no HUGEINT promotion on
    this path, CAST pinned anyway). The signal here is the token
    count; swapping in any integer score (`quality_logreg_score`'s
    milli-score) is a column substitution.

    Scale shape: the rank and the per-source count share ONE
    exchange on source (both windows partition identically,
    plan-tested); no global sort, no second shuffle. Per-source rank
    at 100 TB is the same single-key window `sessionization_gap`
    runs per user — bounded by the largest source, which is exactly
    the thing mixture weighting already requires you to bound."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", "source", F.size(F.split(F.lower("text"), r"\s+")).cast("bigint").alias("n_tok")
    )
    by_src = Window.partitionBy("source")
    r = s.select(
        "doc_id",
        "source",
        "n_tok",
        F.row_number().over(by_src.orderBy("n_tok", "doc_id")).alias("rk"),
        F.count(F.lit(1)).over(by_src).alias("n_src"),
    )
    return r.select(
        "doc_id",
        "source",
        "n_tok",
        F.expr("CAST((rk - 1) * 1000000 DIV GREATEST(n_src - 1, 1) AS BIGINT)").alias(
            "calib_ppm"
        ),
    )


@register(
    "mixture_interleave_schedule",
    rf"""
    WITH s AS (
      SELECT source,
             CAST(SUM(len(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source),
    g AS (
      SELECT source, total_tokens,
             GREATEST(CAST(FLOOR(SQRT(CAST(total_tokens AS DOUBLE)) * 1000000) AS BIGINT) - 3,
                      CAST(0 AS BIGINT)) AS base
      FROM s WHERE total_tokens > 0),
    q AS (
      SELECT source, CAST({_isqrt_micro_sql('HUGEINT')} AS BIGINT) AS sqrt_micro
      FROM g),
    d AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS k
      FROM documents),
    v AS (
      SELECT d.doc_id, d.source, d.k,
             CAST(CAST(d.k AS HUGEINT) * 1000000000000 // q.sqrt_micro AS BIGINT) AS vtime
      FROM d JOIN q USING (source))
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vtime, source, k) AS BIGINT) AS pos,
           doc_id, source, CAST(k AS BIGINT) AS k, vtime
    FROM v ORDER BY vtime, source, k LIMIT 500
    """,
)
def mixture_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stride-scheduled interleaving of the mixture: the
    trainer wants ONE global document order in which each source
    appears at its temperature weight CONTINUOUSLY (not "all of
    source A, then B" — that's curriculum skew, and not i.i.d.
    shuffle — that loses the weighting). Stride scheduling does it:
    source s's k-th document gets virtual time k/w_s and the schedule
    is ascending virtual time — the classic lottery/stride scheduler
    and exactly how multi-source samplers interleave shards.

    Exactness: weights are the exact-integer-sqrt micro-units
    (`_isqrt_micro_sql`, the `temperature_mixture_weights` CTE
    verbatim); virtual time is floor(k·10^12 / sqrt_micro) in
    HUGEINT/DECIMAL(38,0) — both engines floor the same integer
    ratio, and ties (equal vtime) break on (source, k). The graded
    head is the first 500 schedule positions.

    Scale shape: per-source k is one window exchange; the weight
    join is a broadcast (#sources rows); the global head is
    TakeOrdered (plan-tested) — top-500 by (vtime, source, k) with
    NO global sort materialized. The position column is numbered
    AFTER the take, over 500 rows, where a 1-partition window is
    free.

    Zero-token sources are excluded (total_tokens > 0, both
    engines): vtime divides by sqrt_micro, and 0 there errors in
    DuckDB but NULLs in Spark — and a weightless source has no
    place in the schedule anyway."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.select("source", F.size(F.split(F.lower("text"), r"\s+")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("total_tokens"))
        .filter(F.col("total_tokens") > 0)
    )
    g = s.withColumn(
        "base",
        F.greatest(
            F.floor(F.sqrt(F.col("total_tokens").cast("double")) * 1_000_000).cast("bigint")
            - F.lit(3),
            F.lit(0).cast("bigint"),
        ),
    )
    q = g.select(
        "source",
        F.expr(f"CAST({_isqrt_micro_sql('DECIMAL(38,0)')} AS BIGINT)").alias("sqrt_micro"),
    )
    d = docs.select(
        "doc_id",
        "source",
        F.row_number().over(Window.partitionBy("source").orderBy("doc_id")).alias("k"),
    )
    v = d.join(F.broadcast(q), "source").select(
        "doc_id",
        "source",
        "k",
        F.expr(
            "CAST((CAST(k AS DECIMAL(38,0)) * 1000000000000) div sqrt_micro AS BIGINT)"
        ).alias("vtime"),
    )
    head = v.orderBy("vtime", "source", "k").limit(500)
    return head.select(
        F.row_number().over(Window.orderBy("vtime", "source", "k")).cast("bigint").alias("pos"),
        "doc_id",
        "source",
        F.col("k").cast("bigint").alias("k"),
        "vtime",
    )
