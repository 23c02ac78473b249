"""Bloom-filter semi-join reduction through ``build_bloom`` +
``bloom_might_contain`` (the pair ``bloom_decontamination`` runs): the
no-false-negative guarantee and the bitset construction itself."""

from __future__ import annotations

from pyspark.sql import functions as F

from harvester_database_and_automation_spark.operators import (
    bloom_might_contain,
    build_bloom,
)


def _keys(spark, values):
    return spark.createDataFrame([(v,) for v in values], "key string")


def _candidates(probe, keys):
    """Probe rows the filter built from ``keys`` lets through."""
    bloom = build_bloom(keys, "key")
    return (
        probe.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain(F.col("bits"), "key"))
        .drop("bits")
    )


def test_bloom_semi_join_matches_exact_semi_join(spark):
    probe = _keys(spark, [f"probe-{i}" for i in range(500)] + ["hit-a", "hit-b", "hit-a"])
    keys = _keys(spark, ["hit-a", "hit-b", "hit-never-probed"])
    cand = _candidates(probe, keys)
    want = sorted(r["key"] for r in probe.join(keys, "key", "left_semi").collect())
    got = sorted(r["key"] for r in cand.join(keys, "key", "left_semi").collect())
    assert got == want == ["hit-a", "hit-a", "hit-b"]


def test_no_false_negatives_every_inserted_key_is_member(spark):
    values = [f"k-{i}" for i in range(2000)]
    keys = _keys(spark, values)
    bloom = build_bloom(keys, "key")
    n_members = (
        keys.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain(F.col("bits"), "key"))
        .count()
    )
    assert n_members == len(values)


def test_false_positive_rate_is_bounded(spark):
    # 100 keys in a 4096-bit / 4-hash filter: theoretical fp
    # (1 - e^{-400/4096})^4 ≈ 7.5e-5; 5000 non-member probes should see
    # at most a handful of hits, never a majority.
    keys = _keys(spark, [f"in-{i}" for i in range(100)])
    probes = _keys(spark, [f"out-{i}" for i in range(5000)])
    bloom = build_bloom(keys, "key")
    n_fp = (
        probes.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain(F.col("bits"), "key"))
        .count()
    )
    assert n_fp <= 25


def test_bitset_is_dense_and_sized(spark):
    row = build_bloom(_keys(spark, ["a", "b"]), "key", m_bits=256, k=4).first()
    assert len(row["bits"]) == 256 // 32
    # 2 keys x 4 positions = at most 8 set bits across the words.
    set_bits = sum(bin(w & 0xFFFFFFFF).count("1") for w in row["bits"])
    assert 1 <= set_bits <= 8


def test_empty_key_set_rejects_everything(spark):
    bloom = build_bloom(_keys(spark, []).limit(0), "key")
    probes = _keys(spark, ["x", "y"])
    n = (
        probes.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain(F.col("bits"), "key"))
        .count()
    )
    assert n == 0


def test_null_keys_are_ignored_like_left_semi(spark):
    keys = spark.createDataFrame([("hit",), (None,)], "key string")
    probe = spark.createDataFrame([("hit",), ("miss",), (None,)], "key string")
    assert build_bloom(keys, "key").first() == build_bloom(_keys(spark, ["hit"]), "key").first()
    cand = _candidates(probe, keys)
    assert None not in {r["key"] for r in cand.collect()}
    got = sorted(r["key"] for r in cand.join(keys, "key", "left_semi").collect())
    want = sorted(r["key"] for r in probe.join(keys, "key", "left_semi").collect())
    assert got == want == ["hit"]


def test_more_than_eight_hashes_is_rejected(spark):
    import pytest

    with pytest.raises(ValueError, match="k/depth"):
        build_bloom(_keys(spark, ["a"]), "key", k=9)
