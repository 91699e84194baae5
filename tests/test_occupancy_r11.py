"""Round-11 tests: occupancy-scaled LSH bucketing (derived_prefix_bits)
and the cross-LM empty-vocabulary guard."""

import pytest
from pyspark.sql import functions as F


def test_derived_prefix_bits_pins_the_measured_rule():
    from odbc2parquet_spark.operators.similarity import derived_prefix_bits

    # the rule: prefix_bits = clamp(ceil(log2(n / target_occupancy)))
    # pinned at the corpus sizes the SCALING decades actually run:
    assert derived_prefix_bits(500) == 4      # sf0.01 (clamped at min)
    assert derived_prefix_bits(2_000) == 5    # sf0.1
    assert derived_prefix_bits(20_000) == 9   # amplified sf1
    # the measured sf10 sweet spot (SCALE.md: 12 bits -> 7.3M edges)
    assert derived_prefix_bits(200_000) == 12
    # clamps and degenerate inputs
    assert derived_prefix_bits(0) == 4
    assert derived_prefix_bits(10**12) == 24
    assert derived_prefix_bits(200_000, max_bits=10) == 10
    with pytest.raises(ValueError):
        derived_prefix_bits(-1)
    with pytest.raises(ValueError):
        derived_prefix_bits(1000, target_occupancy=0)
    # monotone in n: growing the corpus never coarsens the bucketing
    prev = 0
    for n in [1, 10, 100, 1_000, 10_000, 100_000, 1_000_000]:
        bits = derived_prefix_bits(n)
        assert bits >= prev
        prev = bits


def test_lsh_bucket_pairs_occupancy_path_matches_explicit(spark):
    from odbc2parquet_spark.operators.similarity import (
        derived_prefix_bits,
        lsh_bucket_pairs,
    )

    # 300 synthetic signatures -> derived bits = ceil(log2(300/64)) = 3,
    # clamped to min 4; the derived path must equal 4-bit bucketing
    sig = spark.range(300).select(
        F.col("id").alias("vec_id"), (F.col("id") * 37 % 97).alias("sig")
    )
    bits = derived_prefix_bits(300)
    assert bits == 4
    buckets = {}
    for i in range(300):
        buckets.setdefault(i * 37 % 97 & 15, []).append(i)
    want = sorted((a, b, k) for k, ids in buckets.items() for a in ids for b in ids if a < b)
    auto = lsh_bucket_pairs(sig, target_occupancy=64, n_vectors=300)
    assert sorted((r.id_a, r.id_b, r.bucket) for r in auto.collect()) == want
    # without n_vectors the operator counts the frame itself
    counted = lsh_bucket_pairs(sig, target_occupancy=64)
    assert sorted((r.id_a, r.id_b, r.bucket) for r in counted.collect()) == want


def test_bigram_lm_cross_empty_vocab_fails_loudly(spark):
    from odbc2parquet_spark.operators.text import bigram_lm_scores_cross

    train = spark.createDataFrame([("",), (" ",)], ["text"])
    score = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    out = bigram_lm_scores_cross(train, score)
    with pytest.raises(Exception, match="vocabulary is empty"):
        out.collect()


def test_simhash_width_generalizes_past_32_bits(spark):
    """The 60-bit signature uses 15 hex chars of md5; bits=32 must stay
    byte-identical to the classic 8-hex-char signature (oracle-pinned)."""
    import hashlib

    from odbc2parquet_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta")],
        ["doc_id", "text"],
    )
    s32 = {r.id: r.simhash for r in simhash(docs).collect()}
    s60 = {r.id: r.simhash for r in simhash(docs, bits=60).collect()}
    # identical docs agree at every width; distinct docs differ
    assert s32[1] == s32[2] and s60[1] == s60[2]
    assert s60[1] != s60[3]
    # widths nest per the hash family: all signatures fit their width
    assert 0 <= s32[1] < (1 << 32)
    assert 0 <= s60[1] < (1 << 60)
    # the single-word doc's signature IS its word hash (majority of one):
    h60 = int(hashlib.md5(b"delta").hexdigest()[:15], 16)
    assert s60[3] == h60
    h32 = int(hashlib.md5(b"delta").hexdigest()[:8], 16)
    assert s32[3] == h32


def test_banded_auto_recall_is_exact_at_any_band_width(spark):
    """Pigeonhole recall must not depend on the derived band width: every
    radius-3 pair found by all-pairs verification appears in the banded
    result at bb=4 (16 of 60 bits covered) just as at bb=15 (full 60)."""
    from odbc2parquet_spark.operators.dedup import (
        simhash,
        simhash_banded_pairs,
        simhash_near_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} common shared tokens here") for i in range(40)]
        + [(100, "x y z q r s"), (101, "x y z q r s t")],
        ["doc_id", "text"],
    )
    sig = simhash(docs, bits=60)
    truth = {
        (r.id_a, r.id_b) for r in simhash_near_pairs(sig).collect() if r.hamming <= 3
    }
    for bb in (4, 15):
        banded = {
            (r.id_a, r.id_b)
            for r in simhash_banded_pairs(sig, bits=4 * bb).collect()
        }
        assert banded == truth, f"bb={bb}: banded != all-pairs truth"
