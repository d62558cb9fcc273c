"""Similarity search over embedding columns (`array<float>`).

Baseline: brute-force cosine top-k with the query set broadcast (the
probe side streams; no shuffle of the corpus). Scale path: sign-LSH
(random hyperplane) bucketing so candidate generation is a bucket-key
join instead of a full cross product.

All dot products / norms are higher-order-function column expressions
(`zip_with` + `aggregate`) evaluated JVM-side in double precision —
no Python UDF in the hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import md5_long
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.scale import spread_scan


def _fd(x: float) -> str:
    """Render a python float as a SQL DOUBLE literal. Non-finite values
    (means of corrupt embeddings propagate NaN/Inf into centroids) must
    not reach the parser as bare ``nanD``/``infD`` — that fails the
    whole plan at parse time; emit the explicit CAST spelling instead."""
    v = float(x)
    if v != v:
        return "cast('NaN' as double)"
    if v == float("inf"):
        return "cast('Infinity' as double)"
    if v == float("-inf"):
        return "cast('-Infinity' as double)"
    return f"{v!r}D"


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, summed in array order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_norm(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(sq_norm(a)) * F.sqrt(sq_norm(b)))


def _cosine_prenorm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with the two L2 norms precomputed per SIDE of a
    join instead of per PAIR: ``dot / (na * nb)`` evaluates the exact
    same IEEE operations in the same order as :func:`cosine` (sqrt of
    the same double sums, then the same multiply/divide), so values —
    and the 6-digit rounding — are bit-identical; only the redundant
    per-pair norm re-aggregation (2 of cosine's 3 interpreted
    higher-order aggregates) disappears. Pass ``na``/``nb`` built with
    ``F.sqrt(sq_norm(...))`` on the corresponding side."""
    return dot(a, b) / (na * nb)


def l2_norm(a: Column) -> Column:
    return F.sqrt(sq_norm(a))


def int8_quantize_error(a: Column) -> Column:
    """Mean absolute reconstruction error of symmetric int8
    quantization (scale = max|x|/127, round-half-up pinned via
    floor(x/scale + 0.5) so Spark and SQL oracles agree on midpoints).
    Pure higher-order column expression — a narrow map over the
    embedding scan, no shuffle, no Python.  NULL for all-zero vectors
    (scale 0) rather than a division blow-up."""
    scale = (
        F.aggregate(
            F.transform(a, lambda x: F.abs(x.cast("double"))),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, v),
        )
        / F.lit(127.0)
    )
    scale = F.nullif(scale, F.lit(0.0))
    err = F.zip_with(
        a,
        F.transform(a, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)) * scale),
        lambda x, d: F.abs(x.cast("double") - d),
    )
    return F.aggregate(err, F.lit(0.0), lambda acc, v: acc + v) / F.size(a)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against
    the corpus; per-query top-k via window rank with unique tiebreaker.
    Output: qid, vec_id, sim, rank. Excludes self-matches."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("_qvec"),
            F.sqrt(sq_norm(F.col(vec_col))).alias("_qn"),
        )
    )
    # |corpus|×|queries| dot products evaluate in the corpus's map
    # stage — spread an under-parallel scan across the cluster first;
    # norms are computed once per side, not once per pair
    scored = (
        spread_scan(corpus)
        .withColumn("_cn", F.sqrt(sq_norm(F.col(vec_col))))
        .join(q, F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                _cosine_prenorm(F.col("_qvec"), F.col(vec_col), F.col("_qn"), F.col("_cn")),
                round_digits,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return scored.select(
        query_id_col, id_col, "sim", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= k)


def sign_lsh_signature(vec: str, bits: int = 8) -> Column:
    """Random-hyperplane LSH bucket id (long): bit b = sign(v · w_b),
    w_b a deterministic pseudo-random hyperplane with per-(dim, bit)
    weights in [-1, 1) derived from a hash: pmod(h(i, b), 2000)/1000-1,
    with h the md5-prefix hash of ``'b,i'`` (:func:`..dedup.md5_long`,
    identically computable in DuckDB) so bucketing is oracle-gradeable.

    ``vec`` is the vector COLUMN NAME: the whole signature is rendered
    as SQL TEXT and parsed JVM-side in one call. The equivalent
    Column-API loop (bits × per-element weight subtrees) paid ~3.3s of
    py4j DRIVER time per plan build at 8 bits — the same plan-build
    trap the SimHash signature stages avoid the same way."""
    if not isinstance(vec, str):
        raise TypeError(
            "sign_lsh_signature takes the vector column NAME (SQL-text "
            "rendering); pass e.g. 'embedding', not F.col('embedding')"
        )
    terms = []
    for b in range(bits):
        w = (
            f"(CAST(pmod(CAST(conv(substring(md5(concat_ws(',', '{b}', "
            "CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT), 2000) AS DOUBLE)"
            " - CAST(1000.0 AS DOUBLE)) / CAST(1000.0 AS DOUBLE)"
        )
        proj = (
            f"aggregate(zip_with(`{vec}`, sequence(0, size(`{vec}`) - 1), "
            f"(x, i) -> CAST(x AS DOUBLE) * {w}), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        terms.append(
            f"(CASE WHEN {proj} > CAST(0.0 AS DOUBLE) "
            f"THEN shiftleft(1L, {b}) ELSE 0L END)"
        )
    return F.expr("(" + " | ".join(terms) + ")")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket
    (equi-join on bucket id — shuffles scale with bucket sizes, not
    |corpus|×|queries|). Recall is tunable via ``bits``.
    Output: qid, vec_id, sim, rank."""
    c = spread_scan(corpus).select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(sq_norm(F.col(vec_col))).alias("_cn"),
        sign_lsh_signature(vec_col, bits).alias("_bucket"),
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.sqrt(sq_norm(F.col(vec_col))).alias("_qn"),
        sign_lsh_signature(vec_col, bits).alias("_bucket"),
    )
    scored = (
        c.join(q, "_bucket")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                _cosine_prenorm(F.col("_qvec"), F.col(vec_col), F.col("_qn"), F.col("_cn")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return scored.select(query_id_col, id_col, "sim", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= k
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    seed: int = 42,
    quantizer: str = "kmeans",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus
    into ``nlist`` cells, probe the ``nprobe`` nearest cells per
    query.

    Scale shape: centroids are tiny and live driver/broadcast-side;
    the corpus is scanned once to assign cells (narrow map); search
    joins queries to only their probed cells — shuffle volume is
    |corpus|·nprobe/nlist instead of |corpus|·|queries|. Training
    samples the corpus, so the fit cost is bounded regardless of
    corpus size.

    ``quantizer``: ``"kmeans"`` (production default — bounded sampled
    fit, L2 cell assignment) or ``"sample"`` — a fully deterministic
    inner-product IVF: centroids are the ``nlist`` corpus vectors
    with the smallest :func:`..dedup.md5_long` of their id, and BOTH
    corpus assignment and query probing take the max-dot cell
    (MIPS-style IVF). The sample quantizer trades cell quality for
    engine-independent reproducibility, which is what lets the
    registry value-hash grade the whole assign→probe→rank pipeline
    against DuckDB; dots are
    rounded to 6 digits before ranking so cell choice can't flip on
    summation-order ulps.
    """
    spark = corpus.sparkSession
    if quantizer == "sample":
        hf = md5_long(F.col(id_col).cast("string"))
        cent_rows = corpus.select(F.col(id_col), F.col(vec_col), hf.alias("_h")).orderBy(
            "_h", id_col
        ).limit(nlist)
        wcell = Window.orderBy("_h", id_col)  # nlist rows: single-partition window is fine
        cent_df = F.broadcast(
            cent_rows.select(
                (F.row_number().over(wcell) - 1).alias("_cell"),
                F.col(vec_col).cast("array<double>").alias("_centroid"),
            )
        )
        a_dots = (
            spread_scan(corpus)
            .crossJoin(cent_df)
            .select(
                F.col(id_col),
                F.col(vec_col),
                "_cell",
                F.round(dot(F.col(vec_col), F.col("_centroid")), 6).alias("_adot"),
            )
        )
        w_assign = Window.partitionBy(id_col).orderBy(F.desc("_adot"), F.asc("_cell"))
        assigned = (
            a_dots.select(
                id_col, vec_col, "_cell", F.row_number().over(w_assign).alias("_arn")
            )
            .filter(F.col("_arn") == 1)
            .drop("_arn")
        )
    else:
        # bounded training set: centroid quality needs a few hundred points
        # per cell, not the whole corpus — cap the fit at ~256·nlist vectors
        # (parquet row-count is metadata-only, so count() is cheap) and a
        # fixed iteration budget, so training cost is O(nlist²·dim), flat in
        # corpus size. The Lloyd loop runs DRIVER-SIDE in numpy on that
        # sample: a pyspark.ml fit pays seconds of job-scheduling overhead
        # per iteration to cluster a matrix numpy finishes in milliseconds,
        # and only the fit moves to the driver — assignment of the full
        # corpus below stays a distributed zero-shuffle map over the
        # centroid literals. Random init: an IVF coarse quantizer needs
        # balanced-ish cells, not optimal clusters.
        import numpy as np

        target = max(4096, 256 * nlist)
        n = corpus.count()
        train_df = corpus
        if n > target:
            train_df = train_df.sample(fraction=min(1.0, (1.2 * target) / n), seed=seed)
        X = np.array(
            [list(r[0]) for r in train_df.select(F.col(vec_col)).collect()], dtype=np.float64
        )
        rng = np.random.default_rng(seed)
        # tiny/unlucky samples can undershoot nlist — pad by cycling the
        # sample rather than raising (pyspark.ml KMeans tolerated k > n)
        n_pick = min(nlist, len(X))
        idx = rng.choice(len(X), size=n_pick, replace=False)
        if n_pick < nlist:
            idx = np.resize(idx, nlist)
        cents = X[idx].copy()
        for _ in range(8):
            d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            labels = d2.argmin(axis=1)
            for c in range(nlist):
                pts = X[labels == c]
                if len(pts):
                    cents[c] = pts.mean(axis=0)
        centroids = [list(c) for c in cents]

        # nearest-centroid (L2) cell assignment as a narrow codegen'd
        # map — one corpus scan, no shuffle, no Python. The literal
        # centroid expressions are rendered as SQL text and parsed
        # JVM-side in one call (the Column API pays one py4j round
        # trip per literal — ~1 s of driver time per plan at
        # nlist×dim = 1024 doubles, pure build overhead).
        cents_sql = "array({})".format(
            ",".join(
                "array({})".format(",".join(_fd(x) for x in c))
                for c in centroids
            )
        )
        cell_sql = (
            f"array_min(zip_with(transform({cents_sql}, c -> round("
            f"aggregate(zip_with(`{vec_col}`, c, "
            "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
            "cast(0.0 as double), (acc, v) -> acc + v), 6)), "
            f"sequence(0, {nlist - 1}), (d, i) -> struct(d, i))).i"
        )
        assigned = spread_scan(corpus).select(
            F.col(id_col), F.col(vec_col), F.expr(cell_sql).alias("_cell")
        )
        # JVM literal structs, not createDataFrame: a Python-list local
        # relation re-evaluates through a Python-RDD job on every use
        # (worker startup dominates); nlist×dim literals stay driver/JVM
        inline_sql = "inline(array({}))".format(
            ",".join(
                "struct({} as _cell, array({}) as _centroid)".format(
                    i, ",".join(_fd(x) for x in c)
                )
                for i, c in enumerate(centroids)
            )
        )
        cent_df = F.broadcast(spark.range(1).select(F.expr(inline_sql)))
    # nearest nprobe cells per query: tiny cross product (queries × nlist)
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.sqrt(sq_norm(F.col(vec_col))).alias("_qn"),
    )
    q_cells = (
        q.crossJoin(cent_df)
        .select(
            query_id_col,
            "_qvec",
            "_qn",
            "_cell",
            F.round(dot(F.col("_qvec"), F.col("_centroid")), 6).alias("_cdot"),
        )
    )
    w_probe = Window.partitionBy(query_id_col).orderBy(F.desc("_cdot"), F.asc("_cell"))
    probes = q_cells.select(
        query_id_col, "_qvec", "_qn", "_cell", F.row_number().over(w_probe).alias("_pr")
    ).filter(F.col("_pr") <= nprobe)

    scored = (
        assigned.withColumn("_cn", F.sqrt(sq_norm(F.col(vec_col))))
        .join(probes, "_cell")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                _cosine_prenorm(F.col("_qvec"), F.col(vec_col), F.col("_qn"), F.col("_cn")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return scored.select(query_id_col, id_col, "sim", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= k
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    min_cosine: float = 0.95,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing (near
    duplicates almost surely share the bucket). Output: id_a, id_b, sim."""
    sig = spread_scan(df).select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(sq_norm(F.col(vec_col))).alias("_n"),
        sign_lsh_signature(vec_col, bits).alias("_bucket"),
    )
    a = sig.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), F.col("_n").alias("_na"), F.col("_bucket")
    )
    b = sig.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), F.col("_n").alias("_nb"), F.col("_bucket")
    )
    return (
        a.join(b, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _cosine_prenorm(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= min_cosine)
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    ks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    seed: int = 42,
    quantizer: str = "kmeans",
    rerank: int = 0,
) -> DataFrame:
    """Product-quantization (PQ) approximate top-k with asymmetric
    distance computation (ADC), the memory-bound ANN workhorse
    (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011): split each vector into ``m`` subvectors,
    quantize each subspace to ``ks`` codewords, and score a query
    against a corpus vector as the SUM of per-subspace query·codeword
    dot products — the corpus is touched only through its codes.

    100-TB shape: the codebook is tiny (``m·ks`` subvectors) and is
    compiled into JVM literal expressions, so ENCODING IS A NARROW
    MAP — one corpus scan, zero shuffle, no Python: per subspace the
    nearest codeword (L2, ties to the lowest code) is found by an
    array_min over a zip_with of rounded distances. Each query
    carries its flattened ``m·ks`` ADC table; scoring is a broadcast
    cross join (queries are few) + an `aggregate` lookup per row —
    again no shuffle until the final per-query top-k rank. With
    ``rerank=R>0``, the top-R by ADC are re-scored with exact cosine
    (a join that moves only R·|Q| candidate vectors) — the standard
    two-stage PQ serving layout.

    ``quantizer``: ``"kmeans"`` (production default — per-subspace
    sampled KMeans fits, cost O(m·ks·dim) flat in corpus size) or
    ``"sample"`` — codewords are the subvectors of the ``ks`` corpus
    vectors with the smallest :func:`..dedup.md5_long` of their id,
    fully deterministic and engine-independent, which lets the registry
    value-hash the whole encode→ADC→rank pipeline against DuckDB.
    Distances and ADC entries are rounded to 6 digits before
    argmin/sum so code assignment cannot flip on summation-order ulps.
    """
    spark = corpus.sparkSession
    head = corpus.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("pq_topk: empty corpus (cannot infer embedding dim)")
    dim = len(head[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m

    # ---- codebooks[s][c] = subvector (python floats; m·ks·sub values)
    if quantizer == "sample":
        hf = md5_long(F.col(id_col).cast("string"))
        rows = (
            corpus.select(F.col(vec_col), hf.alias("_h"), F.col(id_col))
            .orderBy("_h", id_col)
            .limit(ks)
            .collect()
        )
        codebooks = [
            [[float(x) for x in r[0][s * sub : (s + 1) * sub]] for r in rows]
            for s in range(m)
        ]
    else:
        # Per-subspace Lloyd fits run DRIVER-SIDE on a bounded sample:
        # PQ training needs a few hundred points per codeword in a
        # 4-16 dim subspace, so the sample (≤ ~1.2·256·ks rows) is
        # collected once and all m codebooks are fit in numpy — m
        # separate pyspark.ml jobs would pay ~seconds of job overhead
        # each to cluster a matrix numpy handles in milliseconds. The
        # fit cost is O(sample·ks·dim), flat in corpus size; only the
        # ENCODE is distributed (and that stays a zero-shuffle map).
        import numpy as np

        n = corpus.count()
        target = max(4096, 256 * ks)
        base = corpus
        if n > target:
            base = base.sample(fraction=min(1.0, (1.2 * target) / n), seed=seed)
        sample = np.array(
            [list(r[0]) for r in base.select(F.col(vec_col)).collect()], dtype=np.float64
        )
        codebooks = []
        for s in range(m):
            X = sample[:, s * sub : (s + 1) * sub]
            rng = np.random.default_rng(seed + s)
            n_pick = min(ks, len(X))
            idx = rng.choice(len(X), size=n_pick, replace=False)
            if n_pick < ks:
                idx = np.resize(idx, ks)
            cents = X[idx].copy()
            for _ in range(8):
                d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for c in range(ks):
                    pts = X[assign == c]
                    if len(pts):
                        cents[c] = pts.mean(axis=0)
            codebooks.append([[float(x) for x in c] for c in cents])

    # ---- JVM literal nested codebook: array<array<array<double>>>.
    # The whole encode/ADC expression is rendered as SQL TEXT and
    # parsed JVM-side in ONE call each: building the same tree through
    # the pyspark Column API costs thousands of py4j round trips
    # (~2 s of driver time per plan, measured — pure build overhead,
    # nothing to do with data size).
    cb_sql = "array({})".format(
        ",".join(
            "array({})".format(
                ",".join(
                    "array({})".format(",".join(_fd(x) for x in code))
                    for code in codebooks[s]
                )
            )
            for s in range(m)
        )
    )
    vec_q = f"`{vec_col}`"
    sqdist_sql = (
        f"aggregate(zip_with(slice({vec_q}, s*{sub}+1, {sub}), c, "
        "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    codes_sql = (
        f"transform(sequence(0, {m - 1}), s -> "
        f"array_min(zip_with("
        f"transform(element_at({cb_sql}, s+1), c -> round({sqdist_sql}, 6)), "
        f"sequence(0, {ks - 1}), (d, i) -> struct(d, i))).i)"
    )
    encoded = spread_scan(corpus).select(F.col(id_col), F.expr(codes_sql).alias("_codes"))

    # ---- per-query flattened ADC table (m·ks doubles, computed JVM-side)
    qdot_sql = (
        f"aggregate(zip_with(slice({vec_q}, s*{sub}+1, {sub}), c, "
        "(x, y) -> cast(x as double) * y), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    qtab_sql = (
        f"flatten(transform(sequence(0, {m - 1}), s -> "
        f"transform(element_at({cb_sql}, s+1), c -> round({qdot_sql}, 6))))"
    )
    qtabs = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.expr(qtab_sql).alias("_qtab"),
    )

    adc_sql = (
        f"round(aggregate(sequence(0, {m - 1}), cast(0.0 as double), "
        f"(acc, s) -> acc + get(_qtab, s * {ks} + get(_codes, s))), 6)"
    )
    scored = (
        encoded.crossJoin(F.broadcast(qtabs))
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col, F.expr(adc_sql).alias("approx_dot"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("approx_dot"), F.asc(id_col))
    ranked = scored.select(
        query_id_col, id_col, "approx_dot", F.row_number().over(w).alias("rank")
    )
    if rerank <= 0:
        return ranked.filter(F.col("rank") <= k)
    # ---- exact-cosine rerank of the ADC top-R (candidate set only)
    cand = ranked.filter(F.col("rank") <= rerank).drop("rank", "approx_dot")
    exact = (
        cand.join(
            corpus.select(
                F.col(id_col),
                F.col(vec_col).alias("_cvec"),
                F.sqrt(sq_norm(F.col(vec_col))).alias("_cn"),
            ),
            id_col,
        )
        .join(
            F.broadcast(
                qtabs.select(
                    query_id_col, "_qvec", F.sqrt(sq_norm(F.col("_qvec"))).alias("_qn")
                )
            ),
            query_id_col,
        )
        .select(
            query_id_col,
            id_col,
            F.round(
                _cosine_prenorm(F.col("_qvec"), F.col("_cvec"), F.col("_qn"), F.col("_cn")), 6
            ).alias("sim"),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return exact.select(
        query_id_col, id_col, "sim", F.row_number().over(w2).alias("rank")
    ).filter(F.col("rank") <= k)
