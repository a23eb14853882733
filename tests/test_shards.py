"""Token-balanced deterministic shard layout — value-oracled against a
Python replay of the md5 order key + exclusive prefix sum."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.shards import assign_token_shards


def _docs(n=200, seed=9):
    rng = random.Random(seed)
    return [(i, f"doc {i}", rng.randint(1, 120)) for i in range(n)]


def _py_shards(rows, shard_tokens, seed=42):
    keyed = sorted(
        rows, key=lambda r: hashlib.md5(f"{seed}:{r[0]}".encode()).hexdigest()
    )
    out, acc = {}, 0
    for i, _txt, tok in keyed:
        out[i] = acc // shard_tokens
        acc += tok
    return out


def test_assignment_matches_python_prefix_sum(spark):
    rows = _docs()
    df = spark.createDataFrame(rows, "doc_id int, text string, n_tokens int")
    got = {
        r["doc_id"]: r["shard"]
        for r in assign_token_shards(df, shard_tokens=500).collect()
    }
    assert got == _py_shards(rows, 500)


def test_assignment_independent_of_layout(spark):
    rows = _docs(300, seed=4)
    df = spark.createDataFrame(rows, "doc_id int, text string, n_tokens int")
    base = {
        r["doc_id"]: r["shard"]
        for r in assign_token_shards(df, 700, num_partitions=5).collect()
    }
    scrambled = {
        r["doc_id"]: r["shard"]
        for r in assign_token_shards(
            df.repartition(13).sortWithinPartitions("n_tokens"),
            700,
            num_partitions=3,
        ).collect()
    }
    assert base == scrambled


def test_shard_token_balance(spark):
    rows = _docs(400, seed=1)
    df = spark.createDataFrame(rows, "doc_id int, text string, n_tokens int")
    shard_tokens = 1000
    totals = {
        r["shard"]: r["tok"]
        for r in assign_token_shards(df, shard_tokens)
        .groupBy("shard")
        .agg(F.sum("n_tokens").alias("tok"))
        .collect()
    }
    max_doc = max(r[2] for r in rows)
    n_shards = max(totals) + 1
    assert n_shards >= 2
    for s, tok in totals.items():
        if s < n_shards - 1:  # every full shard: target +/- one document
            assert shard_tokens - max_doc < tok < shard_tokens + max_doc
    # shards are contiguous 0..n-1 and cover every document
    assert set(totals) == set(range(n_shards))
    assert sum(totals.values()) == sum(r[2] for r in rows)


def test_seed_changes_layout(spark):
    rows = _docs(150, seed=2)
    df = spark.createDataFrame(rows, "doc_id int, text string, n_tokens int")
    a = {r["doc_id"]: r["shard"] for r in assign_token_shards(df, 800, seed=1).collect()}
    b = {r["doc_id"]: r["shard"] for r in assign_token_shards(df, 800, seed=2).collect()}
    assert a != b  # different global order
    assert a == _py_shards(rows, 800, seed=1)
    assert b == _py_shards(rows, 800, seed=2)


def test_validation(spark):
    df = spark.createDataFrame([(1, 2)], "doc_id int, n_tokens int")
    with pytest.raises(ValueError, match="shard_tokens"):
        assign_token_shards(df, 0)
    with pytest.raises(ValueError, match="reserved"):
        assign_token_shards(df.withColumn("__k", F.lit("x")), 10)
