"""Corpus-audit operators: bigram extraction, int8 quantization error
bounds, L2 norms — small constructed inputs with known answers."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.similarity import (
    int8_quantize_error,
    l2_norm,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.text import bigrams, tokens


def test_bigrams_adjacent_pairs_and_short_inputs(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("solo",), ("x y",)], "text string"
    )
    rows = df.select(bigrams(tokens(F.col("text"))).alias("bg")).collect()
    assert rows[0]["bg"] == ["a b", "b c", "c d"]
    assert rows[1]["bg"] == []
    assert rows[2]["bg"] == ["x y"]


def test_l2_norm_known_value(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "v array<float>")
    assert df.select(l2_norm(F.col("v")).alias("n")).first()["n"] == 5.0


def test_int8_quantize_error_bounded_by_half_scale(spark):
    vec = [0.9, -0.3, 0.11, 0.0, -0.77, 0.5]
    df = spark.createDataFrame([(vec,)], "v array<float>")
    err = df.select(int8_quantize_error(F.col("v")).alias("e")).first()["e"]
    # per-element error of round-to-nearest is <= scale/2
    scale = max(abs(x) for x in vec) / 127.0
    assert 0.0 <= err <= scale / 2 + 1e-12
    # cross-check against a python reference
    ref = sum(
        abs(x - math.floor(x / scale + 0.5) * scale) for x in vec
    ) / len(vec)
    assert abs(err - ref) < 1e-6


def test_int8_quantize_error_null_for_zero_vector(spark):
    df = spark.createDataFrame([([0.0, 0.0],)], "v array<float>")
    assert df.select(int8_quantize_error(F.col("v")).alias("e")).first()["e"] is None


def test_simhash_lane_packing_matches_python_bitcount(spark):
    """The lane-packed aggregation must reproduce the definition:
    bit i set iff strictly more than half the features have bit i set
    (2c > n). Computed independently from the same hashed features."""
    import pyspark.sql.functions as F

    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import (
        shingle_hashes,
        simhash_signatures,
    )

    texts = [
        (i, " ".join(f"w{(i * 7 + j * 3) % 23}" for j in range(15 + i)))
        for i in range(8)
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    feats = shingle_hashes(docs, "text", "doc_id", 3, hash_family="md5").collect()
    by_doc: dict[int, list[int]] = {}
    for r in feats:
        by_doc.setdefault(r["_id"], []).append(r["_sh"] & (2**64 - 1))
    expected = {}
    for doc, hashes in by_doc.items():
        sig = 0
        for i in range(64):
            c = sum((h >> i) & 1 for h in hashes)
            if 2 * c > len(hashes):
                sig |= 1 << i
        expected[doc] = sig

    got = {
        r["_id"]: r["_sig"] & (2**64 - 1)
        for r in simhash_signatures(docs, n=3).collect()
    }
    assert got == expected


def test_boilerplate_removal_drops_common_segments_preserves_order(spark):
    """Segments shared by >= min_docs docs vanish; survivors keep
    their original order; fully-boilerplate docs stay as empty rows."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.operators.dedup import remove_boilerplate_segments

    boiler = "click here now"
    rows = [
        # 3 docs sharing the same 3-word prefix segment (min_docs=3)
        (1, f"{boiler} alpha beta gamma"),
        (2, f"{boiler} delta epsilon zeta"),
        (3, f"{boiler} eta theta iota"),
        # doc that IS only boilerplate
        (4, boiler),
        # unique doc, untouched
        (5, "kappa lambda mu nu xi omicron"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_segs"], r["n_kept"], r["clean_text"])
        for r in remove_boilerplate_segments(df, seg_len=3, min_docs=3).collect()
    }
    assert got[1] == (2, 1, "alpha beta gamma")
    assert got[2] == (2, 1, "delta epsilon zeta")
    assert got[3] == (2, 1, "eta theta iota")
    assert got[4] == (1, 0, "")
    assert got[5] == (2, 2, "kappa lambda mu nu xi omicron")


def test_ngram_coverage_curve_cumulative_math(spark, tmp_path):
    """Coverage at k is the cumulative count of the top-k types under
    the (count desc, token asc) order: 150 distinct tokens with
    counts 150..1 -> top-10 covers sum(141..150), top-100 covers
    sum(51..150)=10050 of 11325, and every k PAST the vocabulary is
    clamped to it (round-9 semantics: all four curve points exist at
    every scale; a k beyond the whole vocab covers 100%)."""
    rows = [(i, (f"t{i:03d} " * (150 - i)).strip(), "s") for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.write.parquet(str(tmp_path / "documents.parquet"))

    from experiment_flink_cdc_connectors_postgres_datastream_spark.queries.corpus_ops import ngram_coverage_curve

    total = sum(range(1, 151))
    out = {r["vocab_size"]: r for r in ngram_coverage_curve(spark, str(tmp_path)).collect()}
    assert set(out) == {10, 100, 1000, 5000}
    assert out[10]["covered_tokens"] == sum(range(141, 151))
    assert out[100]["covered_tokens"] == sum(range(51, 151))
    assert out[100]["total_tokens"] == total
    assert out[100]["coverage_ppm"] == sum(range(51, 151)) * 1_000_000 // total
    for k in (1000, 5000):  # clamped to the 150-type vocab: full coverage
        assert out[k]["covered_tokens"] == total
        assert out[k]["coverage_ppm"] == 1_000_000
