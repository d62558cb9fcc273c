"""Unit tests for dedup / similarity / text / multimodal operators on
small constructed inputs with known answers."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import (
    dedup_exact,
    hamming64,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_hashes,
    simhash_near_pairs,
    simhash_signatures,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.multimodal import (
    attach_binary_payload,
    decode_media,
    frame_sample,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.text import (
    fingerprint,
    lang_scores,
    quality_features,
    token_count,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tomorrow"
OTHER = "completely different words about spark catalyst tungsten execution engines"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE)], "doc_id long, text string"
    )


def test_dedup_exact_groups_identical_texts(docs):
    rows = {r["keep_doc_id"]: r["n_copies"] for r in dedup_exact(docs).collect()}
    assert rows == {1: 2, 2: 1, 3: 1}


def test_minhash_finds_near_duplicate_pair(docs):
    pairs = minhash_candidate_pairs(docs, min_est_jaccard=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got        # near-dup found
    assert (1, 4) in got        # identical pair: est_jaccard 1.0
    assert all({a, b} != {1, 3} and {a, b} != {2, 3} for a, b in got)
    exact = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert exact[(1, 4)] == 1.0


def test_minhash_signature_deterministic(spark, docs):
    s1 = minhash_signatures(docs).collect()
    s2 = minhash_signatures(docs).collect()
    assert {r["_id"]: r["_sig"] for r in s1} == {r["_id"]: r["_sig"] for r in s2}


def test_simhash_identical_docs_distance_zero(spark, docs):
    sigs = {r["_id"]: r["_sig"] for r in simhash_signatures(docs, n=3).collect()}
    assert sigs[1] == sigs[4]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_pairs(docs).collect()}
    assert pairs.get((1, 4)) == 0


def test_md5_long_matches_duckdb_md5_prefix(spark):
    """Every signature hash is `md5_long` because DuckDB computes the
    same value as ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)``.
    Pin that contract directly: the empty string, ASCII, multi-byte
    UTF-8, md5 prefixes starting at a hex digit >= 8 (the sign bit of
    a 16-digit prefix), and NULL → NULL on both engines."""
    import hashlib

    import duckdb

    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import md5_long

    texts = ["", "the quick brown fox", "abc", "日本語のテキスト", "naïve café", None]
    prefixes = [hashlib.md5(t.encode()).hexdigest()[0] for t in texts if t is not None]
    assert min(prefixes) < "8" <= max(prefixes)  # both halves of the hex range are covered
    df = spark.createDataFrame(list(enumerate(texts)), "i int, s string")
    got = [r["h"] for r in df.select("i", md5_long(F.col("s")).alias("h")).orderBy("i").collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT CAST('0x' || substr(md5(CAST(? AS VARCHAR)), 1, 15) AS BIGINT)", [t]
        ).fetchone()[0]
        for t in texts
    ]
    assert got == want
    assert got[-1] is None and all(h is not None and 0 <= h < 2**60 for h in got[:-1])


@pytest.mark.parametrize("hash_family", ["xx", "md5"])
def test_shingle_hashes_multi_order_is_union_of_single_orders(spark, docs, hash_family):
    """A tuple ``n`` emits, per document, exactly the grams of each
    listed order as the single-order calls would — including docs too
    short for the higher orders, whose run-off grams must drop."""
    from collections import Counter

    short = spark.createDataFrame([(5, "one"), (6, "two words"), (7, "")], "doc_id long, text string")
    both = docs.unionByName(short)

    def bag(df):
        return Counter((r["_id"], r["_sh"]) for r in df.collect())

    for distinct in (False, True):
        got = bag(shingle_hashes(both, n=(1, 2, 3), distinct=distinct, hash_family=hash_family))
        want = Counter()
        for k in (1, 2, 3):
            want += bag(shingle_hashes(both, n=k, distinct=distinct, hash_family=hash_family))
        if distinct:
            want = Counter(set(want))
        assert got == want, (distinct, got - want, want - got)


def test_ngram_jaccard_exact_values(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs).collect()}
    assert pairs[(1, 4)] == 1.0
    # 13 tokens → 11 distinct shingles each; editing the last token
    # changes only the final shingle: inter=10, union=12 → 0.8333
    assert pairs[(1, 2)] == pytest.approx(10 / 12, abs=1e-4)
    assert (1, 3) not in pairs


def test_ngram_jaccard_hot_shingle_cap_bounds_pairs(spark):
    """A stopword shingle shared by every document must not explode the
    self-join quadratically: with df cap c, a shingle contributes at
    most c(c-1)/2 pairs. Docs that only share the hot shingle produce
    NO pair once it's dropped; genuinely similar docs still match."""
    stop = "the end of the day"       # 3-gram shingles shared by ALL docs
    rows = [(i, f"unique{i} marker{i} token{i} {stop}") for i in range(1, 21)]
    rows += [(100, f"alpha beta gamma delta {stop}"), (101, f"alpha beta gamma delta {stop}")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(docs, min_jaccard=0.01).collect()
    capped = ngram_jaccard_pairs(docs, min_jaccard=0.01, max_shingle_df=5).collect()
    # without the cap every pair of the 22 docs shares the stop shingles
    assert len(uncapped) == 22 * 21 // 2
    # with the cap only the genuinely-duplicated pair survives, at
    # jaccard 1.0 over the retained (discriminative) shingles
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in capped] == [(100, 101, 1.0)]


@pytest.fixture(scope="module")
def vecs(spark):
    data = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
        (100, [1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(data, "vec_id long, embedding array<float>")


def test_cosine_topk_orders_by_similarity(vecs):
    q = vecs.filter(F.col("vec_id") == 100)
    got = [(r["vec_id"], r["rank"]) for r in cosine_topk(vecs, q, k=3).orderBy("rank").collect()]
    assert [v for v, _ in got] == [1, 2, 3] or [v for v, _ in got][0] == 1
    top = cosine_topk(vecs, q, k=1).collect()[0]
    assert top["vec_id"] == 1 and top["sim"] == 1.0


def test_embedding_near_dup_finds_identical_vectors(vecs):
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(vecs, min_cosine=0.99).collect()}
    assert (1, 100) in pairs


def test_ivf_topk_finds_identical_vector(vecs):
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.similarity import ivf_topk

    q = vecs.filter(F.col("vec_id") == 100)
    got = ivf_topk(vecs, q, k=2, nlist=2, nprobe=1).collect()
    # the identical vector lands in the same k-means cell and ranks first
    assert got and got[0]["vec_id"] == 1 and got[0]["sim"] == 1.0


def test_lsh_topk_subset_of_bruteforce_semantics(vecs):
    q = vecs.filter(F.col("vec_id") == 100)
    got = lsh_bucketed_topk(vecs, q, k=3, bits=2).collect()
    # identical vector shares any LSH bucket with the query
    assert 1 in {r["vec_id"] for r in got}


def test_token_count_values(spark):
    df = spark.createDataFrame([(1, "a b  c d"), (2, "x9 y!")], "doc_id long, text string")
    rows = {r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"]) for r in token_count(df).collect()}
    assert rows[1] == (4, 4)
    assert rows[2] == (2, 4)  # x,9,y,!


def test_quality_and_lang_and_fingerprint(spark):
    df = spark.createDataFrame([(1, BASE), (2, "der und das ist gut")], "doc_id long, text string")
    q = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert q[1]["n_stop"] >= 3 and 0 < q[1]["quality_score"] <= 1
    langs = {r["doc_id"]: r["pred_lang"] for r in lang_scores(df).collect()}
    assert langs == {1: "en", 2: "de"}
    fps = fingerprint(df).collect()
    assert all(len(r["fp"]) == 32 for r in fps)


def test_multimodal_plumbing_roundtrip(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "xyz")], "doc_id long, text string")
    packed = attach_binary_payload(df, media_type="video")
    meta = {r["doc_id"]: r["media_meta"]["n_bytes"] for r in packed.collect()}
    assert meta == {1: 11, 2: 3}
    decoded = decode_media(packed)
    rows = {r["doc_id"]: r for r in decoded.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["width"] == 16 + 11 and rows[1]["n_bytes"] == 11
    framed = frame_sample(decoded, every_n=1)
    assert framed.count() == sum(r["n_frames"] for r in rows.values())


def test_multimodal_feature_extraction_feeds_similarity(spark):
    """multimodal → embedding bridge: extract features from payloads,
    run cosine top-k over them."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.multimodal import extract_features

    df = spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, OTHER)], "doc_id long, text string"
    )
    feats = extract_features(attach_binary_payload(df))
    rows = {r["doc_id"]: r["embedding"] for r in feats.collect()}
    assert len(rows[1]) == 16 and rows[1] == rows[2] != rows[3]
    q = feats.filter(F.col("doc_id") == 1)
    top = cosine_topk(feats, q, k=1, id_col="doc_id", vec_col="embedding").collect()[0]
    assert top["doc_id"] == 2 and top["sim"] == 1.0  # identical payload wins


def test_multimodal_real_decoder_sentinel_on_undecodable(spark):
    """Real path on corrupt image bytes: a payload that claims to be a
    PNG (valid signature) but holds garbage must yield the (0, 0, 0)
    sentinel row, never crash the executor (one bad crawl image must
    not kill a 100-TB decode pass). Payloads that are not even the
    right FORMAT are the loud missing-codec case when PIL is absent —
    see test_real_decoder_missing_codec_is_loud_not_sentinel."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.png_stdlib import PNG_SIGNATURE

    df = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    corrupt = attach_binary_payload(df).withColumn(
        "payload", F.lit(PNG_SIGNATURE + b"\x13\x37" * 16)
    )
    [row] = decode_media(corrupt, use_real_decoder=True).collect()
    assert (row["width"], row["height"], row["n_frames"]) == (0, 0, 0)


def test_multimodal_real_decoder_decodes_checked_in_png(spark):
    """use_real_decoder=True on the checked-in 6x4 RGB PNG
    (tests/data/tiny.png): the real codec (PIL when installed, the
    stdlib PNG decoder otherwise — so this runs in THIS container)
    reports the true dimensions and a single frame through the same
    mapInPandas plumbing the fake decoder uses — proving only the
    codec, not the pipeline, was stubbed."""
    import os

    png = open(os.path.join(os.path.dirname(__file__), "data", "tiny.png"), "rb").read()
    df = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    df = df.withColumn(
        "media_meta",
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("png").alias("format"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
            F.md5("payload").alias("checksum"),
        ),
    )
    [row] = decode_media(df, use_real_decoder=True).collect()
    assert (row["width"], row["height"], row["n_frames"]) == (6, 4, 1)
    assert row["n_bytes"] == len(png) and row["media_type"] == "image"


def test_multimodal_featurizer_matches_golden_histogram(spark):
    """The byte-histogram featurizer is pinned to a numpy-computed
    golden vector on the checked-in PNG bytes — any change to the
    fold/normalize scheme breaks this visibly."""
    import os

    import numpy as np

    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.multimodal import extract_features

    png = open(os.path.join(os.path.dirname(__file__), "data", "tiny.png"), "rb").read()
    df = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    [row] = extract_features(df).collect()
    buf = np.frombuffer(png, dtype=np.uint8)
    hist = np.zeros(16, dtype=np.float64)
    np.add.at(hist, buf % 16, 1.0)
    hist /= np.linalg.norm(hist)
    assert np.allclose(row["embedding"], hist.astype(np.float32), atol=1e-7)


def test_approx_distinct_within_tolerance(spark):
    """HLL sketch (rsd=0.02) must land within 5% of the exact
    distinct count on every event_type group: the query now emits
    the verdict itself (exact_users + within_band), and the exact
    side is re-derived independently here."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    rows = QUERIES["approx_distinct_users"](spark, sf).collect()
    exact = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {r["event_type"] for r in rows} == set(exact)
    for r in rows:
        assert r["exact_users"] == exact[r["event_type"]]
        assert r["within_band"] is True, r


def test_connected_components_chain_and_clique(spark):
    """Chain 1-2-3-4 collapses to component 1 (transitivity across
    rounds); disjoint clique {10,11,12} keeps its own min label."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)],
        "id_a long, id_b long",
    )
    got = {r["_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_approx_percentile_close_to_exact(spark):
    """The quantile sketch must land within 1% relative error of the
    exact percentiles on every event_type group: the query now emits
    the verdict (p*_exact + within_band); exact values re-derived
    independently here."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    rows = QUERIES["approx_percentile_by_type"](spark, sf).collect()
    exact = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.expr("round(percentile_disc(0.5) WITHIN GROUP (ORDER BY value), 6)").alias("p50"),
            F.expr("round(percentile_disc(0.9) WITHIN GROUP (ORDER BY value), 6)").alias("p90"),
            F.expr("round(percentile_disc(0.99) WITHIN GROUP (ORDER BY value), 6)").alias("p99"),
        )
        .collect()
    }
    assert {r["event_type"] for r in rows} == set(exact)
    for r in rows:
        assert (
            r["p50_exact"],
            r["p90_exact"],
            r["p99_exact"],
        ) == exact[r["event_type"]]
        assert r["within_band"] is True, r


def test_jaccard_prefix_equals_full_selfjoin(spark):
    """Prefix filtering is an optimization, not an approximation: at
    the same threshold it must return EXACTLY the full self-join's
    pairs (PPJoin completeness lemma)."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.io import load_table
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.8).collect()
    }
    pref = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_prefix_pairs(docs, min_jaccard=0.8).collect()
    }
    assert pref == full
    assert pref  # non-vacuous: the corpus plants near-dups


def test_star_cc_equals_hashmin_on_chain_clique_random(spark):
    """large-star/small-star must produce exactly the labels hash-min
    propagation produces — including on a 40-node chain, the
    adversarial diameter case the star algorithm exists for (hash-min
    needs diameter-many rounds; star converges in O(log n))."""
    import random

    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(1, 40)]
    clique = [(100 + a, 100 + b) for a in range(4) for b in range(a + 1, 4)]
    rng = random.Random(7)
    rand = [(rng.randrange(200, 240), rng.randrange(200, 240)) for _ in range(60)]
    rand = [(a, b) for a, b in rand if a != b]
    pairs = spark.createDataFrame(chain + clique + rand, "id_a long, id_b long")

    star = {r["_id"]: r["component"] for r in connected_components_star(pairs).collect()}
    hashmin = {
        r["_id"]: r["component"]
        for r in connected_components(pairs, max_iter=50).collect()
    }
    assert star == hashmin
    # the chain really did collapse to its minimum
    assert all(star[i] == 1 for i in range(1, 41))


def test_duplicated_span_stats_known_answer(spark):
    """3-token grams, min_docs=2: doc 1 and 2 share 'a b c' and
    'b c d'; doc 3 is disjoint; doc 4 is too short to emit grams."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import duplicated_span_stats

    df = spark.createDataFrame(
        [
            (1, "a b c d"),      # grams: 'a b c', 'b c d'   → both shared with doc 2
            (2, "z a b c d"),    # grams: 'z a b', 'a b c', 'b c d'
            (3, "p q r s"),      # grams: 'p q r', 'q r s'   → unique
            (4, "x y"),          # too short for a 3-gram
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_ratio"])
        for r in duplicated_span_stats(df, n=3, min_docs=2).collect()
    }
    assert got == {
        1: (2, 2, 1.0),
        2: (3, 2, round(2 / 3, 6)),
        3: (2, 0, 0.0),
    }


def test_pq_topk_recall_against_brute_force(spark):
    """PQ/ADC with exact rerank reaches useful recall on the real
    embeddings table, and the two-stage result ranks by exact cosine
    (deterministic: fixed seeds, bounded sample)."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.io import load_table
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.similarity import pq_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    truth = {(r["qid"], r["vec_id"]) for r in cosine_topk(emb, qs, k=10).collect()}
    got = pq_topk(emb, qs, k=10, m=16, ks=16, quantizer="kmeans", rerank=50)
    rows = got.collect()
    pairs = {(r["qid"], r["vec_id"]) for r in rows}
    assert len(pairs & truth) / len(truth) >= 0.6
    # rerank output is exact cosine: rank 1 per query must be the true
    # nearest neighbor whenever it survived the ADC candidate cut
    by_rank1 = {r["qid"]: r["vec_id"] for r in rows if r["rank"] == 1}
    true_rank1 = {
        r["qid"]: r["vec_id"] for r in cosine_topk(emb, qs, k=1).collect()
    }
    hits = sum(1 for q, v in by_rank1.items() if true_rank1.get(q) == v)
    assert hits >= len(by_rank1) - 1


def test_pq_topk_identity_vector_tiny(vecs):
    """On a separable toy set, PQ with rerank finds the identical
    vector at rank 1 (sample quantizer, m=1 subspace of 3 dims)."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.similarity import pq_topk

    q = vecs.filter(F.col("vec_id") == 100)
    got = pq_topk(vecs, q, k=2, m=1, ks=4, quantizer="sample", rerank=4).collect()
    top = [r for r in got if r["rank"] == 1][0]
    assert top["vec_id"] == 1 and top["sim"] == 1.0


def _reference_bpe(word_freqs: dict[str, int], n_merges: int):
    """Pure-Python BPE trainer (Sennrich et al. 2016, greedy
    left-to-right merge, count-desc/pair-asc tie-break) — the ground
    truth learn_bpe_merges must reproduce exactly."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    out = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for toks, f in vocab.items():
            for i in range(len(toks) - 1):
                counts[(toks[i], toks[i + 1])] = counts.get((toks[i], toks[i + 1]), 0) + f
        if not counts:
            break
        (left, right), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rank, left, right, cnt))
        new_vocab = {}
        for toks, f in vocab.items():
            merged, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
                    merged.append(left + right)
                    i += 2
                else:
                    merged.append(toks[i])
                    i += 1
            new_vocab[tuple(merged)] = new_vocab.get(tuple(merged), 0) + f
        vocab = new_vocab
    return out


def test_learn_bpe_merges_matches_reference(spark):
    """The distributed trainer reproduces the reference algorithm
    exactly — merge order, pairs, and weighted counts — on a corpus
    with repeats, ties, and words that merge into one token."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.text import learn_bpe_merges

    docs = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "aaa aa a",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "doc_id long, text string")
    got = learn_bpe_merges(df, n_merges=8)
    freqs: dict[str, int] = {}
    for t in docs:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    expected = _reference_bpe(freqs, 8)
    assert got == expected, f"\ngot:      {got}\nexpected: {expected}"


def test_multimodal_resize_fake_path_deterministic(spark):
    """Fake resize: byte-budget prefix + md5, exact values."""
    import hashlib

    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.multimodal import resize_media

    long_text = "x" * 100
    df = spark.createDataFrame(
        [(1, "short"), (2, long_text)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in resize_media(
            attach_binary_payload(df), target_width=8, target_height=8
        ).collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (8, 8)
    assert out[1]["n_bytes_in"] == 5 and out[1]["n_bytes_out"] == 5
    assert out[1]["checksum"] == hashlib.md5(b"short").hexdigest()
    assert out[2]["n_bytes_out"] == 64  # clamped to the 8x8 byte budget
    assert out[2]["checksum"] == hashlib.md5(long_text[:64].encode()).hexdigest()


def test_multimodal_resize_real_decoder_png(spark):
    """Real resize path (PIL or the stdlib codec — runs in THIS
    container): the checked-in PNG resizes to the target dims and
    re-encodes to a valid PNG whose size/checksum are reported."""
    import os

    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.multimodal import resize_media

    png = open(os.path.join(os.path.dirname(__file__), "data", "tiny.png"), "rb").read()
    df = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    [row] = resize_media(df, target_width=3, target_height=2, use_real_decoder=True).collect()
    assert (row["width"], row["height"]) == (3, 2)
    assert row["n_bytes_in"] == len(png) and row["n_bytes_out"] > 0


def test_real_decoder_missing_codec_is_loud_not_sentinel(spark):
    """With PIL absent, a payload that is not even a PNG by signature
    must raise (the codec for that format is MISSING in this
    environment) — only corrupt/truncated data gets the sentinel.
    Distinguishes 'cannot decode this item' from 'cannot decode this
    format at all' (the silent-all-sentinel failure mode)."""
    pytest.importorskip("zlib")
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present: all formats decodable, no missing-codec path")
    except ImportError:
        pass
    jpeg_ish = b"\xff\xd8\xff\xe0" + b"\x00" * 64  # JPEG SOI, not a PNG
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with_payload = attach_binary_payload(docs).withColumn(
        "payload", F.lit(jpeg_ish)
    )
    import py4j.protocol

    from pyspark.errors import PythonException

    with pytest.raises((PythonException, py4j.protocol.Py4JJavaError)) as ei:
        decode_media(with_payload, use_real_decoder=True).collect()
    assert "NotImplementedError" in str(ei.value) or "not a PNG" in str(ei.value)

    # corrupt PNG (valid signature, garbage body) stays a sentinel row
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.png_stdlib import PNG_SIGNATURE

    corrupt = PNG_SIGNATURE + b"\x00" * 32
    rows = decode_media(
        attach_binary_payload(docs).withColumn("payload", F.lit(corrupt)),
        use_real_decoder=True,
    ).collect()
    assert rows[0]["width"] == 0 and rows[0]["height"] == 0


def test_lang_confusion_matrix_counts(spark, tmp_path):
    """Recall/precision bookkeeping: a language the classifier cannot
    emit gets recall 0 with its volume intact; the over-predicted
    language's precision reflects the spill."""
    rows = [
        (0, "the of and to in", "en", "s"),    # strong en markers -> en
        (1, "der die und das ist", "de", "s"),  # strong de markers -> de
        (2, "xyzzy qwerty", "zh", "s"),         # no markers: argmax tie -> en
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    df.write.parquet(str(tmp_path / "documents.parquet"))

    from experiment_flink_cdc_connectors_postgres_datastream_spark.queries.text_ops import lang_confusion_matrix

    out = {r["lang"]: r for r in lang_confusion_matrix(spark, str(tmp_path)).collect()}
    assert out["en"]["n_docs"] == 1 and out["en"]["n_correct"] == 1
    assert out["en"]["n_predicted"] == 2  # the zh doc spills into en
    assert out["en"]["recall_ppm"] == 1_000_000
    assert out["en"]["precision_ppm"] == 500_000
    assert out["zh"]["n_docs"] == 1 and out["zh"]["n_correct"] == 0
    assert out["zh"]["n_predicted"] == 0 and out["zh"]["recall_ppm"] == 0
    assert out["de"]["recall_ppm"] == 1_000_000 and out["de"]["precision_ppm"] == 1_000_000
