"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Scale design: every signature is computed as a pure column expression
(codegen'd aggregations over :func:`md5_long` hashes) — a narrow map
over the scan with NO Python. The only shuffles are the ones the
algorithms fundamentally need: one per-document aggregation for each
signature, one hash aggregation for exact dedup, one (band-key)
self-join for LSH candidate generation, one (shingle-key) self-join
for exact Jaccard. At 100 TB the band/shingle
joins are the standard scalable formulation (bucket keys distribute;
hot shingles can be frequency-capped).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.text import tokens


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash groupBy: one representative (min id) per
    distinct text + duplicate count. Output: text_fp, keep_{id}, n_copies."""
    return (
        df.groupBy(F.col(text_col))
        .agg(F.min(F.col(id_col)).alias(f"keep_{id_col}"), F.count(F.lit(1)).alias("n_copies"))
        .select(F.md5(F.col(text_col)).alias("text_fp"), f"keep_{id_col}", "n_copies")
    )


def md5_long(col: Column) -> Column:
    """60-bit hash from the md5 hex prefix: conv(substr(md5(s),1,15)).

    Cross-engine reproducible — DuckDB computes the identical value as
    ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`` — which makes
    whole signature pipelines oracle-gradeable end to end. It is the
    one hash of every MinHash, SimHash and sign-LSH signature, so the
    path that is timed is the path that is graded. Hashes that never
    reach a result (shingle join keys, salts, bucketing) keep the
    cheaper one-call native-bytes hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int | tuple[int, ...] = 3,
    distinct: bool = True,
    hash_family: str = "xx",
) -> DataFrame:
    """Distinct n-gram shingle hashes per document: ``(_id, _sh)``
    with ``_sh = xxhash64(tok_i, …, tok_{i+n-1})`` (or, with
    ``hash_family="md5"``, :func:`md5_long` of the space-joined gram).

    ``hash_family`` picks by what ``_sh`` is used for: ``"md5"`` where
    it reaches a result (MinHash/SimHash input, hashed features), so
    DuckDB can reproduce it; ``"xx"`` where it is only a join or group
    key (exact Jaccard, containment, spans, contamination), where the
    cheaper hash changes no result.

    A tuple ``n`` (e.g. ``(1, 2)``) emits the grams of every listed
    order from the same token pass and window: the union of the
    single-order outputs, at one scan and one shuffle.

    Hot-path formulation: posexplode tokens → per-document window
    ``lead`` → one multi-column hash — everything whole-stage
    codegen'd (a per-row higher-order ``transform`` over the token
    array is interpreted and ~10× slower). The window shuffle
    partitions by document id, which is exactly how shingle work
    distributes at 100 TB. Shingle identity is an 8-byte hash
    (collision odds ~2⁻⁶⁴), so downstream joins/aggregations shuffle
    longs, never strings."""
    from pyspark.sql.window import Window

    # the _id window shuffle immediately redistributes the exploded
    # tokens, so pre-spreading the scan only adds a shuffle (measured
    # 1.2-1.6× slower at sf0.1); the explode itself is cheap
    tok = df.select(
        F.col(id_col).alias("_id"), F.posexplode(tokens(F.col(text_col))).alias("_pos", "_tok")
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    orders = (n,) if isinstance(n, int) else n
    leads = [F.lead("_tok", j).over(w) for j in range(1, max(orders))]

    def gram_hash(gram: list[Column]) -> Column:
        return md5_long(F.concat_ws(" ", *gram)) if hash_family == "md5" else F.xxhash64(*gram)

    if len(orders) == 1:
        sh = tok.select(
            "_id", gram_hash([F.col("_tok"), *leads]).alias("_sh"), leads[-1].isNotNull().alias("_full") if leads else F.lit(True).alias("_full")
        ).filter(F.col("_full")).select("_id", "_sh")
    else:
        # materialize the leads first: a generator cannot hold window
        # expressions. A gram whose last token is a NULL lead runs past
        # the document end, so it is emitted as NULL and dropped.
        tok = tok.select("_id", "_tok", *[ld.alias(f"_l{j}") for j, ld in enumerate(leads, 1)])
        toks = [F.col("_tok"), *[F.col(f"_l{j}") for j in range(1, max(orders))]]
        grams = [
            gram_hash(toks[:k]) if k == 1 else F.when(toks[k - 1].isNotNull(), gram_hash(toks[:k]))
            for k in orders
        ]
        sh = tok.select("_id", F.explode(F.array(*grams)).alias("_sh")).filter(F.col("_sh").isNotNull())
    return sh.dropDuplicates(["_id", "_sh"]) if distinct else sh


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    n: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Bulk MinHash signatures over hashed shingles: ``num_hashes``
    codegen'd ``min(h_k(shingle_hash))`` aggregations (h_k =
    :func:`md5_long` of ``'k:shingle_hash'``). Partial aggregation
    reduces shingles map-side, so the agg shuffle carries one row per
    document. Output: ``_id``, ``_sig`` (array<bigint>).

    ``shingles_df``: a precomputed ``(_id, _sh)`` table (the
    `shingle_hashes` shape, ``hash_family="md5"``) to reuse instead of
    re-shingling — at scale the shingle pass is the expensive half,
    and callers that also need exact-Jaccard ground truth (the recall
    curve) or several signature widths should materialize it once."""
    sh = (
        shingles_df
        if shingles_df is not None
        else shingle_hashes(df, text_col, id_col, n, hash_family="md5")
    )
    # The num_hashes-wide aggregate list is rendered as SQL TEXT parsed
    # JVM-side in a handful of calls: the equivalent Column-API loops cost ~450 py4j round trips ≈ 1-3 s of DRIVER
    # time per plan build (measured at 32 hashes: 1.0-3.4 s API vs
    # 0.26-0.68 s text — the same plan-build trap the SimHash and
    # IVF/PQ literal renderings avoid; the bench pays the build on
    # every timed run).
    # min() over the 15-char HEX PREFIX, hex→long conversion AFTER
    # the aggregation: md5() renders fixed-width lowercase hex, so
    # the lexicographic (binary UTF8) min of the prefix IS the
    # numeric min of `md5_long`'s value — and `conv` (the dominant
    # cost of the chain, ~3× the md5 digest itself: measured 4.8 s
    # vs 1.2 s for 32 projections over 326k rows at sf0.1) then
    # runs once per (doc, k) group instead of once per (shingle
    # row, k). Same values, ~25-30% less signature-stage wall.
    aggs = [
        F.expr(
            f"min(substring(md5(concat_ws(':', '{k}', cast(_sh as string))), 1, 15)) AS _m{k}"
        )
        for k in range(num_hashes)
    ]
    conv_list = ", ".join(
        f"cast(conv(_m{k}, 16, 10) as bigint)" for k in range(num_hashes)
    )
    return sh.groupBy("_id").agg(*aggs).selectExpr("_id", f"array({conv_list}) AS _sig")


def minhash_bands(sig_col: Column, bands: int, rows: int) -> Column:
    """LSH band keys: :func:`md5_long` of ``'b:'`` + each contiguous
    ``rows``-slice of the signature → array<bigint> of ``bands``
    bucket keys."""

    def band_key(b):
        return md5_long(
            F.concat_ws(":", b.cast("string"), F.concat_ws(",", F.slice(sig_col, b * rows + 1, rows)))
        )

    return F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), band_key)


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    min_est_jaccard: float = 0.5,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    Plan shape: signature map → explode band keys → self-join on
    (band_index, band_hash) → dedupe candidate pairs → estimate
    Jaccard as the fraction of agreeing minhashes → threshold.
    Output: id_a, id_b, est_jaccard (id_a < id_b).
    """
    rows = num_hashes // bands
    # the signature subplan feeds three consumers (band explode + both
    # sides of the pair join); localCheckpoint materializes it once
    # instead of recomputing the explode+agg lineage per consumer
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingles_df=shingles_df
    ).localCheckpoint(eager=False)
    pairs = minhash_band_pairs(sig, bands, rows)
    sig_a = sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    sig_b = sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    est = (agree.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard")
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def minhash_band_pairs(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """Candidate pairs from an LSH band self-join over a signature
    table ``(_id, _sig)`` — the band-explode + equi-join +
    pair-dedup core of :func:`minhash_candidate_pairs`, exposed so
    consumers that need only PAIR IDENTITY (the recall curve grades
    which true pairs the bands catch, not the estimates) skip the
    est-Jaccard signature join-back entirely instead of computing and
    discarding it. Output: id_a, id_b (id_a < id_b, deduped)."""
    banded = sig.select(
        "_id",
        F.posexplode(minhash_bands(F.col("_sig"), bands, rows)).alias("_band", "_bh"),
    )
    left = banded.select(F.col("_id").alias("id_a"), "_band", "_bh")
    right = banded.select(F.col("_id").alias("id_b"), "_band", "_bh")
    return (
        left.join(right, ["_band", "_bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
) -> DataFrame:
    """Bulk 64-bit SimHash signatures over token n-grams.
    (Features are :func:`md5_long` hashes with 60 effective bits —
    the md5-prefix hash is 15 hex chars — so signature bits 60-63 are
    structurally 0 on both engines; hamming semantics are unaffected.)

    Hashed features (``shingle_hashes``); per bit position, a
    codegen'd ``sum(±1)`` aggregation counts set bits (map-side
    partial agg ⇒ the shuffle carries one row per document); the sign
    vector is reassembled into a single bigint. Output: ``_id``,
    ``_sig``."""
    if n > 1:
        feats = shingle_hashes(df, text_col, id_col, n, hash_family="md5")
    else:
        feats = df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("_tok"),
        ).select("_id", md5_long(F.col("_tok")).alias("_sh"))
    # Lane-packed bit counting: two 32-bit counters per long (bit 2g in
    # the low lane, bit 2g+1 in the high lane) ⇒ 32 sum columns + one
    # count instead of 64 sums. Halves the agg buffer and the generated
    # aggregate code (the 64-way version's codegen compile dominated
    # cold-start); lane capacity 2^31 features/doc can't overflow.
    # All three stages are rendered as SQL TEXT and parsed JVM-side in
    # a handful of calls: the equivalent Column-API loops cost ~800
    # py4j round trips ≈ seconds of DRIVER time per plan build
    # (measured: 5.7s build vs 1.2s execute at sf0.01) — the same
    # plan-build trap the IVF/PQ literal rendering avoids.
    packed = feats.selectExpr(
        "_id",
        *[
            f"(shiftright(_sh, {2 * g}) & 1L) + "
            f"shiftleft(shiftright(_sh, {2 * g + 1}) & 1L, 32) AS _p{g}"
            for g in range(32)
        ],
    )
    counts = packed.groupBy("_id").agg(
        F.expr("count(1) AS _n"),
        *[F.expr(f"sum(_p{g}) AS _s{g}") for g in range(32)],
    )
    # bit i is set iff 2·set-count_i > n (same tie-break as sign(Σ±1):
    # 2c−n > 0); n stays UNdoubled on the right-hand side
    lane_mask = (1 << 32) - 1
    sig_sql = " | ".join(
        f"(CASE WHEN (_s{g} & {lane_mask}L) * 2 > _n "
        f"THEN shiftleft(1L, {2 * g}) ELSE 0L END) | "
        f"(CASE WHEN shiftright(_s{g}, 32) * 2 > _n "
        f"THEN shiftleft(1L, {2 * g + 1}) ELSE 0L END)"
        for g in range(32)
    )
    return counts.selectExpr("_id", f"({sig_sql}) AS _sig")


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 7,
    blocks: int = 8,
    n: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with block-key LSH: split the 64-bit
    signature into ``blocks`` bands; candidate pairs agree on at least
    one full band (exhaustive for max_hamming < blocks by pigeonhole;
    approximate recall beyond that radius).
    Output: id_a, id_b, hamming."""
    width = 64 // blocks
    # barrier: the signature subplan (explode + 64-way sum agg) feeds
    # BOTH sides of the self-join — materialize it once, as in
    # minhash_candidate_pairs
    sig = simhash_signatures(df, text_col, id_col, n=n).localCheckpoint(eager=False)
    banded = sig.select(
        "_id",
        "_sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("_sig"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1).cast("long")
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("_band", "_bh"),
    )
    left = banded.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"), "_band", "_bh")
    right = banded.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"), "_band", "_bh")
    return (
        left.join(right, ["_band", "_bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def drop_hot_shingles(sh: DataFrame, max_shingle_df: int) -> DataFrame:
    """Remove shingles whose document frequency exceeds the cap — the
    single shared implementation of the hot-shingle k² bound (a
    shingle in k docs contributes k(k-1)/2 self-join pairs; one
    stopword-run shingle in a million docs alone is ~5e11 rows).

    Anti-join against the HOT set, not inner-join against the keep
    set: heavy hitters are few by construction (≤ total occurrences /
    cap, Zipfian in practice), so AQE turns this into a broadcast
    anti-join and the full shingle table never takes an extra shuffle.
    The df aggregation itself is cheap: map-side combine collapses to
    distinct shingles per partition."""
    hot = (
        sh.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_shingle_df)
        .select("_sh")
    )
    return sh.join(hot, "_sh", "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.1,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs (the ground truth the
    MinHash estimate approximates). Shingle-key self-join counts
    intersections; set sizes come from a pre-aggregation.
    Output: id_a, id_b, jaccard (≥ threshold, id_a < id_b).

    ``max_shingle_df`` caps shingle document frequency: a shingle
    shared by k documents contributes k(k-1)/2 join pairs, so one
    stopword-run shingle in a million docs would alone produce ~5e11
    pairs. Dropping shingles with df > cap before BOTH the size
    aggregation and the join bounds the blow-up at (cap-1)/2 pairs
    per shingle occurrence while keeping the metric consistent:
    Jaccard over the retained (discriminative) shingle universe —
    the standard stopword-shingle removal for corpus-scale dedup."""
    # shingle identity = 8-byte hash: same result modulo 2^-64
    # collisions, and every shuffle/join carries longs, not strings
    sh = shingle_hashes(df, text_col, id_col, n).localCheckpoint(eager=False)
    if max_shingle_df is not None:
        sh = drop_hot_shingles(sh, max_shingle_df)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "_sh")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def contamination_check(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Train/eval contamination: for each eval document, the fraction
    of its distinct n-gram shingles that appear anywhere in the
    training corpus — the n-gram-overlap decontamination check run
    before an evaluation is trusted.

    Scale shape: both sides reduce to (id, shingle-hash) rows; the
    corpus side is deduplicated to DISTINCT shingle hashes (one
    map-side-combined aggregation) before a single hash equi-join
    against the (much smaller) eval side. Join fan-out is 1 match per
    (eval-shingle, corpus-shingle-exists), never corpus row count.
    Output: {id_col}, n_grams, n_contaminated, contaminated_frac."""
    ev = shingle_hashes(eval_set, text_col, id_col, n)
    corpus_sh = shingle_hashes(corpus, text_col, id_col, n).select("_sh").distinct()
    hits = ev.join(corpus_sh.withColumn("_hit", F.lit(1)), "_sh", "left")
    return (
        hits.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 6).alias("contaminated_frac"),
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair list by hash-min
    label propagation: every node repeatedly adopts the minimum label
    among itself and its neighbors until a fixpoint.

    This is the canonical last step of fuzzy dedup — pairwise
    near-dup candidates (MinHash/SimHash/Jaccard output) become
    transitive duplicate *clusters* with a canonical representative
    (the minimum id). Output: ``(_id, component)`` for every node
    that appears in ``pairs``.

    Scale notes: near-dup graphs are unions of small cliques, so the
    iteration count tracks cluster diameter (2-3 rounds in practice),
    not graph size; each round is one shuffle join + one aggregation.
    Lineage is truncated per round (localCheckpoint) so plans don't
    grow with iterations, and convergence is detected with a
    count-aggregate action, never a driver-side collect of node data.
    For adversarial long-chain graphs switch to the large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond"), which converges in O(log n) rounds.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("_id"))
        .distinct()
        .withColumn("component", F.col("_id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels._id)
            .groupBy(F.col("dst").alias("_id"))
            .agg(F.min("component").alias("_nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, "_id", "left")
            .select(
                "_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_nbr_min"), F.col("component"))
                ).alias("component"),
                (F.col("_nbr_min") < F.col("component")).alias("_changed"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log n)-round algorithm for adversarial
    graphs where plain label propagation needs diameter-many rounds
    (a near-dup chain a~b~c~…~z has diameter |cluster|).

    large-star: every node u links its strictly-greater neighbors to
    ``m(u) = min(N(u) ∪ {u})``; small-star links the ≤ neighbors and
    u itself to m(u). Both are one agg + one join on the edge list —
    no neighbor lists are ever collected, so a hot node with millions
    of neighbors never materializes a row wider than (src, dst, m).
    At the fixpoint the edge list IS the star graph (v → component
    min); convergence is detected by an (edge-count, checksum) pair
    going stable, a scalar aggregate rather than a data collect.

    Output: ``(_id, component)`` for every node in ``pairs`` —
    identical to :func:`connected_components` (equivalence is
    pytest-asserted on clique, chain, and random graphs).
    """
    edges = (
        pairs.select(F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).cast("long").alias("src"), F.col(id_a).cast("long").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _min_per_node(e: DataFrame) -> DataFrame:
        return e.groupBy("src").agg(F.min(F.least("src", "dst")).alias("_m"))

    def _signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: 64-bit hash sums overflow longs under
            # ANSI semantics on all-but-tiny edge lists
            F.coalesce(
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
            ).alias("chk"),
        ).collect()[0]
        return (row["n"], row["chk"])

    sig = _signature(edges)
    for _ in range(max_iter):
        # large-star: (v, m(u)) for v ∈ N(u), v > u — over the
        # SYMMETRIZED list (small-star output is directed larger→
        # smaller; without re-symmetrizing, a node would see only its
        # out-neighbors and large-star would emit nothing). Self-loops
        # stay out by construction (m ≤ u < v).
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        m = _min_per_node(sym)
        joined = sym.join(m, "src")
        edges = (
            joined.filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: (v, m(u)) for v ∈ N(u) ∪ {u}, v ≤ u, v ≠ m
        m = _min_per_node(edges)
        joined = edges.join(m, "src")
        edges = (
            joined.filter(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .unionByName(joined.select("src", F.col("_m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = _signature(edges)
        if new_sig == sig:
            break
        sig = new_sig
    # fixpoint edge list is (node → component min) for every non-min
    # node; min nodes label themselves
    return (
        edges.select(F.col("src").alias("_id"), F.col("dst").alias("component"))
        .unionByName(edges.select(F.col("dst").alias("_id"), F.col("dst").alias("component")))
        .groupBy("_id")
        .agg(F.min("component").alias("component"))
    )


def duplicated_span_stats(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact-duplication audit (the ExactSubstr criterion of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499, at token-n-gram granularity): for each
    document, how many of its n-gram positions are covered by an
    n-gram occurring in ≥ ``min_docs`` distinct documents — the
    "what fraction of this doc exists elsewhere" signal used to strip
    boilerplate and cross-document copies before training.

    Scale shape: positional n-grams reduce to 8-byte hashes
    (codegen'd, one window shuffle by doc); the cross-doc gram set is
    found with a map-side-combined distinct count and FILTERED to
    duplicated grams BEFORE the join back — the zipfian singleton tail
    (the overwhelming majority of grams) never enters the join. All
    shuffles key on 8-byte hashes or doc ids; nothing is collected.

    Output: doc_id, n_spans, n_dup_spans, dup_ratio (round 6).
    """
    pos = shingle_hashes(df, text_col, id_col, n, distinct=False)
    n_spans = pos.groupBy("_id").agg(F.count(F.lit(1)).alias("n_spans"))
    dup_grams = (
        pos.groupBy("_sh")
        .agg(F.count_distinct("_id").alias("_n_docs"))
        .filter(F.col("_n_docs") >= min_docs)
        .select("_sh")
    )
    dup_counts = (
        pos.join(dup_grams, "_sh")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return (
        n_spans.join(dup_counts, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_spans",
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.coalesce(F.col("n_dup_spans"), F.lit(0)) / F.col("n_spans").cast("double"), 6
            ).alias("dup_ratio"),
        )
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via PPJoin-style prefix filtering
    (Xiao et al., WWW'08): identical results to ``ngram_jaccard_pairs``
    at the same threshold, but the self-join runs only on each
    document's PREFIX — its rarest ``|S| - ceil(t·|S|) + 1`` shingles
    in a global document-frequency order — because two sets with
    Jaccard ≥ t must share at least one prefix element.
    Output: id_a, id_b, jaccard (≥ threshold, id_a < id_b).

    Why this is the high-threshold scale shape: at t = 0.8 the prefix
    is ~20% of each set, so join traffic drops ~25× versus the full
    shingle self-join — and hot (stopword-run) shingles sit at the END
    of the df order, so they never enter a prefix at all; no frequency
    cap needed, and the metric stays the textbook Jaccard over ALL
    shingles. Candidates are then verified exactly on doc-sized shingle
    arrays (`array_intersect`), shuffling only candidate pairs."""
    from pyspark.sql.window import Window

    sh = shingle_hashes(df, text_col, id_col, n).localCheckpoint(eager=False)
    dfreq = sh.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        sh.join(dfreq, "_sh")
        .withColumn(
            "_r",
            F.row_number().over(Window.partitionBy("_id").orderBy("_df", "_sh")),
        )
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("_id")))
    )
    prefix = ranked.filter(
        F.col("_r")
        <= F.col("n_sh") - F.ceil(F.lit(min_jaccard) * F.col("n_sh")) + 1
    ).select("_id", "_sh")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "_sh")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates()
    )
    sets = sh.groupBy("_id").agg(F.collect_list("_sh").alias("_set"))
    n_inter = F.size(F.array_intersect("_set_a", "_set_b"))
    jac = n_inter.cast("double") / (
        F.size("_set_a") + F.size("_set_b") - n_inter
    ).cast("double")
    return (
        cand.join(
            sets.select(F.col("_id").alias("id_a"), F.col("_set").alias("_set_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("_id").alias("id_b"), F.col("_set").alias("_set_b")),
            "id_b",
        )
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_containment: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram set CONTAINMENT pairs: for an ordered pair (a, b),
    ``containment = |Sa ∩ Sb| / |Sa|`` — the asymmetric cousin of
    Jaccard that catches quotes, excerpts, and near-subset documents
    (a short doc fully quoted inside a long one has tiny Jaccard but
    containment ≈ 1; the measure behind "superset dedup" passes).
    Output: id_a, id_b, containment ≥ threshold, BOTH directions of
    each unordered pair, id_a ≠ id_b.

    Same scale shape as :func:`ngram_jaccard_pairs`: one shingle-key
    self-join on 8-byte hashes computes each unordered intersection
    once; the two directed rows are projected from that single count.
    ``max_shingle_df`` bounds hot-shingle pair blow-up identically."""
    sh = shingle_hashes(df, text_col, id_col, n).localCheckpoint(eager=False)
    if max_shingle_df is not None:
        sh = drop_hot_shingles(sh, max_shingle_df)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "_sh")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    directed = inter.unionByName(
        inter.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "n_inter"
        )
    )
    return (
        directed.join(sizes.withColumnRenamed("_id", "id_a"), "id_a")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_inter").cast("double") / F.col("n_sh").cast("double"), 4).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= min_containment)
    )


def remove_boilerplate_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_len: int = 3,
    min_docs: int = 5,
) -> DataFrame:
    """CCNet-style line-level dedup: drop repeated "lines" from every
    document, keeping each document's remaining segments in order.

    Web-pipeline boilerplate removal hashes each LINE of a page and
    drops lines shared by many pages (nav bars, cookie banners,
    footers). The driver corpus has no newlines, so the unit of
    dedup here is a fixed-width word window (``seg_len`` words) — the
    same pipeline shape with a synthetic line delimiter: segment →
    corpus-wide document frequency per segment → drop segments in
    ≥ ``min_docs`` distinct docs → reassemble survivors in order.

    Output: one row per input document — ``(id, n_segs, n_kept,
    clean_text)`` — with ``clean_text = ''`` when every segment was
    boilerplate (the row is kept so downstream length filters decide
    the document's fate, rather than it vanishing silently).

    100-TB shape: segmentation is a narrow codegen'd map (split +
    slice over an index sequence — no Python); the df count is one
    map-side-combined hash aggregation keyed by segment; the
    boilerplate set is then BROADCAST back as a flag join (by
    construction it holds only segments with df ≥ min_docs, orders of
    magnitude smaller than the corpus; for adversarial corpora where
    it is still large, hash segments to 8-byte keys first and let the
    join shuffle on those); totals, kept-counts AND in-order
    reassembly then come out of ONE doc-keyed hash aggregation over
    the flagged segments (conditional aggregates — `collect_list`
    skips the null structs of boilerplate rows), so the corpus is
    segmented twice, not three times, and there is exactly one
    doc-keyed shuffle. No sorts — segment order is restored by
    array_sort over (seg_idx, seg) structs inside each group.
    """
    w = F.split(F.col(text_col), " ")
    n_segs_expr = F.ceil(F.size(w) / F.lit(seg_len)).cast("int")
    seg_array = F.transform(
        F.sequence(F.lit(0), n_segs_expr - 1),
        lambda i: F.array_join(F.slice(w, i * seg_len + 1, seg_len), " "),
    )
    segs = df.select(
        F.col(id_col).alias("_id"), F.posexplode(seg_array).alias("seg_idx", "seg")
    )
    boiler = (
        segs.groupBy("seg")
        .agg(F.count_distinct(F.col("_id")).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("seg", F.lit(True).alias("_boiler"))
    )
    flagged = segs.join(F.broadcast(boiler), "seg", "left")
    keep = F.col("_boiler").isNull()
    return flagged.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.count(F.when(keep, F.lit(1))).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(keep, F.struct("seg_idx", "seg")))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    ).select(F.col("_id").alias(id_col), "n_segs", "n_kept", "clean_text")
