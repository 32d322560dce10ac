"""Sharded Bloom seen-filter: no false negatives, bounded FP, anti-join
parity, probe-join parity, auto-sizing (ROADMAP #7)."""

import numpy as np
from pyspark.sql import functions as F

from crawler_spark.seen import (
    _bit_indexes,
    anti_join_probe,
    bloom_build,
    bloom_flag,
    bloom_target_bits,
    dedupe_against_seen,
)


def _hashes_df(spark, values):
    return spark.createDataFrame([(int(v),) for v in values], "url_hash long")


def test_bloom_no_false_negatives(spark):
    rng = np.random.default_rng(42)
    members = rng.integers(-(2**62), 2**62, size=2000)
    state = bloom_build(spark, _hashes_df(spark, members), m_bits=1 << 16)
    flagged = bloom_flag(_hashes_df(spark, members), state)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_fp_rate_bounded(spark):
    rng = np.random.default_rng(7)
    members = rng.integers(-(2**62), 2**62, size=2000)
    others = rng.integers(-(2**62), 2**62, size=4000)
    others = np.setdiff1d(others, members)
    state = bloom_build(spark, _hashes_df(spark, members), m_bits=1 << 16)
    flagged = bloom_flag(_hashes_df(spark, others), state)
    fp = flagged.filter(F.col("maybe_seen")).count() / len(others)
    assert fp < 0.01, f"FP rate {fp:.4f} too high"


def test_bloom_incremental_merge(spark):
    a = _hashes_df(spark, range(0, 1000))
    b = _hashes_df(spark, range(1000, 2000))
    s1 = bloom_build(spark, a, m_bits=1 << 16)
    s2 = bloom_build(spark, b, prior_state=s1, m_bits=1 << 16)
    flagged = bloom_flag(_hashes_df(spark, range(0, 2000)), s2)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_dedupe_matches_plain_antijoin(spark):
    rng = np.random.default_rng(3)
    seen_vals = rng.integers(0, 10**9, size=3000)
    cand_vals = rng.integers(0, 10**9, size=1500)
    cand_vals = np.concatenate([cand_vals, seen_vals[:500]])  # overlap
    seen_df = _hashes_df(spark, seen_vals)
    cand_df = _hashes_df(spark, cand_vals).distinct()
    state = bloom_build(spark, seen_df, m_bits=1 << 16)
    exact = set(
        r[0]
        for r in dedupe_against_seen(cand_df, seen_df, bloom=None).collect()
    )
    with_bloom = set(
        r[0]
        for r in dedupe_against_seen(cand_df, seen_df, bloom=state).collect()
    )
    assert exact == with_bloom


def test_anti_join_probe_matches_plain_antijoin(spark):
    rng = np.random.default_rng(11)
    big_vals = rng.integers(0, 10**9, size=5000)
    small_vals = np.concatenate(
        [rng.integers(0, 10**9, size=800), big_vals[:200]]
    )
    big = _hashes_df(spark, big_vals)
    small = _hashes_df(spark, small_vals).distinct()
    plain = set(
        r[0] for r in small.join(big, "url_hash", "left_anti").collect()
    )
    probed = set(r[0] for r in anti_join_probe(small, big, "url_hash").collect())
    assert plain == probed


def test_bloom_target_bits_monotone_and_sized():
    # FP < 1% needs ~10 bits/item at k=7; the sizer gives 16/item rounded
    # to a power of two, never below the floor
    assert bloom_target_bits(0) == 1 << 20
    assert bloom_target_bits(10_000) == 1 << 20
    m = bloom_target_bits(1_000_000)
    assert m >= 16 * 1_000_000 and (m & (m - 1)) == 0
    assert bloom_target_bits(2_000_000) >= bloom_target_bits(1_000_000)


def test_bloom_autosize_keeps_fp_bounded_at_10x(spark):
    """ROADMAP #7 property: at 10x the old fixed capacity-per-shard
    (scaled down: 10x past the point where a 1<<14 filter saturates),
    a target-sized rebuild keeps FP < 1% while the fixed-size filter
    degrades."""
    rng = np.random.default_rng(19)
    n = 40_000  # ~1250/shard across 32 shards
    members = rng.integers(-(2**62), 2**62, size=n)
    others = np.setdiff1d(
        rng.integers(-(2**62), 2**62, size=2 * n), members
    )[:n]
    mdf, odf = _hashes_df(spark, members), _hashes_df(spark, others)

    small = bloom_build(spark, mdf, m_bits=1 << 12)  # deliberately tiny
    fp_small = (
        bloom_flag(odf, small).filter(F.col("maybe_seen")).count() / n
    )
    sized = bloom_build(spark, mdf, m_bits=bloom_target_bits(n // 32, 1 << 12))
    fp_sized = (
        bloom_flag(odf, sized).filter(F.col("maybe_seen")).count() / n
    )
    assert fp_small > 0.05  # the fixed filter really is saturated
    assert fp_sized < 0.01, f"auto-sized FP {fp_sized:.4f}"


def test_bit_indexes_deterministic():
    h = np.array([123456789, -987654321], dtype=np.int64)
    a = _bit_indexes(h, 1 << 16, 7)
    b = _bit_indexes(h, 1 << 16, 7)
    assert (a == b).all() and a.shape == (2, 7)
