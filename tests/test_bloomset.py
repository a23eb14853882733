"""Bloom corpus digest — no-false-negative invariant, FPR bound,
mergeability, and the one shared format with `BloomFilter`."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.bloom import (
    HEADER_BYTES,
    BloomFilter,
    build_bloom,
    merge_blooms,
    probe_bloom,
)

N = 2000
FPR = 0.01


def _keys(spark, lo, hi, tag="k"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(tag), F.col("id")).alias("key")
    )


def test_no_false_negatives_and_fpr_bound(spark):
    seen = _keys(spark, 0, N)
    bloom = build_bloom(seen, "key", expected_items=N, fpr=FPR)
    probed = probe_bloom(seen, bloom, "key")
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # NEVER miss

    fresh = _keys(spark, N, 3 * N)
    fp = probe_bloom(fresh, bloom, "key").filter(F.col("maybe_seen")).count()
    assert fp / (2 * N) < 3 * FPR  # one-sided error stays near target


def test_digest_deterministic_and_layout_independent(spark):
    a = build_bloom(_keys(spark, 0, N), "key", N, FPR)
    b = build_bloom(
        _keys(spark, 0, N).repartition(13), "key", N, FPR
    )
    assert a == b


def test_digest_equals_bloomfilter_bytes(spark):
    """The distributed build writes exactly the bytes `BloomFilter` does
    for the same keys and sizing — one format, one hash, one position
    rule."""
    bf = BloomFilter(N, FPR)
    bf.update(f"k{i}" for i in range(N))
    assert build_bloom(_keys(spark, 0, N), "key", N, FPR) == bf.to_bytes()


def test_merge_is_union(spark):
    k1, k2 = _keys(spark, 0, 500), _keys(spark, 500, 1000)
    merged = merge_blooms(
        [build_bloom(k1, "key", N, FPR), build_bloom(k2, "key", N, FPR)]
    )
    direct = build_bloom(_keys(spark, 0, 1000), "key", N, FPR)
    assert merged == direct


def test_null_keys_probe_null(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",)], "key string").coalesce(1)
    bloom = build_bloom(df, "key", 10, 0.01)
    got = {
        r["key"]: r["maybe_seen"]
        for r in probe_bloom(df, bloom, "key").collect()
    }
    assert got == {"a": True, None: None, "b": True}


def test_validation(spark):
    df = _keys(spark, 0, 10)
    with pytest.raises(ValueError, match="expected_items"):
        build_bloom(df, "key", 0, 0.01)
    with pytest.raises(ValueError, match="fpr"):
        build_bloom(df, "key", 10, 1.5)
    with pytest.raises(ValueError, match="mismatched bloom headers"):
        merge_blooms([build_bloom(df, "key", 10, 0.01), build_bloom(df, "key", 100, 0.01)])


def test_headerless_digest_rejected(spark):
    """A digest in the earlier corpus layout (raw bits, no header) fails
    in probe and merge with an error naming the format — including one
    whose first byte happens to equal the version byte."""
    df = _keys(spark, 0, 100)
    raw = build_bloom(df, "key", 100, 0.01)[HEADER_BYTES:]
    for bits in (raw, bytes([2]) + raw[1:]):
        with pytest.raises(ValueError, match="bloom format v2"):
            probe_bloom(df, bits, "key")
        with pytest.raises(ValueError, match="bloom format v2"):
            merge_blooms([bits, bits])
