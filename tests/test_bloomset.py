"""Distributed Bloom digest — no-false-negative invariant, FPR bound,
mergeability, and the cross-batch ingest guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.bloomset import (
    bloom_params,
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
    probed = probe_bloom(seen, bloom, "key", expected_items=N, fpr=FPR)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # NEVER miss

    fresh = _keys(spark, N, 3 * N)
    fp = (
        probe_bloom(fresh, bloom, "key", expected_items=N, fpr=FPR)
        .filter(F.col("maybe_seen"))
        .count()
    )
    assert fp / (2 * N) < 3 * FPR  # one-sided error stays near target


def test_digest_deterministic_and_layout_independent(spark):
    a = build_bloom(_keys(spark, 0, N), "key", N, FPR)
    b = build_bloom(
        _keys(spark, 0, N).repartition(13), "key", N, FPR
    )
    assert a == b


def test_merge_is_union(spark):
    k1, k2 = _keys(spark, 0, 500), _keys(spark, 500, 1000)
    merged = merge_blooms(
        [build_bloom(k1, "key", N, FPR), build_bloom(k2, "key", N, FPR)]
    )
    direct = build_bloom(_keys(spark, 0, 1000), "key", N, FPR)
    assert merged == direct


def test_null_keys_probe_null(spark):
    df = spark.createDataFrame([("a",), (None,)], "key string")
    bloom = build_bloom(df, "key", 10, 0.01)
    got = {
        r["key"]: r["maybe_seen"]
        for r in probe_bloom(df, bloom, "key", 10, 0.01).collect()
    }
    assert got["a"] is True and got[None] is None


def test_validation():
    with pytest.raises(ValueError, match="expected_items"):
        bloom_params(0, 0.01)
    with pytest.raises(ValueError, match="fpr"):
        bloom_params(10, 1.5)
    with pytest.raises(ValueError, match="mismatched"):
        merge_blooms([b"\x00" * 8, b"\x00" * 16])


def test_probe_rejects_mismatched_params(spark):
    df = _keys(spark, 0, 100)
    bloom = build_bloom(df, "key", 100, 0.01)
    with pytest.raises(ValueError, match="parameters must match"):
        probe_bloom(df, bloom, "key", 9999, 0.01)
