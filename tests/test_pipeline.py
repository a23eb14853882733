"""End-to-end fraud pipeline golden invariants (SURVEY §5.2.2, §5.2.4):
fit -> getTiles -> tf-idf -> anti-join scoring -> bloom serving parity.
"""

import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.functions.grid import cell_id_py
from geoscan_fraud_spark.operators.bloom import (
    BloomFilter,
    H3Lookup,
    score_with_blooms,
    train_blooms,
)
from geoscan_fraud_spark.operators.personalized import GeoscanPersonalized
from geoscan_fraud_spark.operators.scoring import (
    extract_anomalies,
    extract_anomalies_literal,
)
from geoscan_fraud_spark.operators.tiles import cluster_popularity, tile_tfidf
from geoscan_fraud_spark.testing.datagen import make_transactions

PRECISION = 10
LAYERS = 2


@pytest.fixture(scope="module")
def pipeline(spark):
    pdf = make_transactions(n_users=4, points_per_user=700, seed=21)
    tx = spark.createDataFrame(pdf)
    model = (
        GeoscanPersonalized().setEpsilon(100.0).setMinPts(5).setGroupedCol("user").fit(tx)
    )
    tiles = model.getTiles(PRECISION, LAYERS).persist()
    scored_tiles = tile_tfidf(tiles, tx, res=PRECISION).persist()
    anomalies = extract_anomalies(tx, tiles, res=PRECISION).persist()
    return dict(pdf=pdf, tx=tx, model=model, tiles=tiles,
                scored_tiles=scored_tiles, anomalies=anomalies)


def test_anomalies_are_points_outside_tiles(pipeline):
    """transform-NULL rows == anti-join rows (the `02:62-68` invariant)."""
    tx, tiles = pipeline["tx"], pipeline["tiles"]
    n_anti = pipeline["anomalies"].count()
    n_literal = extract_anomalies_literal(tx, tiles, res=PRECISION).count()
    assert n_anti == n_literal
    assert 0 < n_anti < tx.count()  # noise exists, but most points are known


def test_tfidf_positive_and_joined(pipeline):
    st = pipeline["scored_tiles"]
    assert st.filter(F.col("tf_idf") < 0).count() == 0
    assert set(st.columns) == {"user", "cluster", "h3", "tf_idf"}
    pop = cluster_popularity(st)
    assert pop.count() > 0


def test_bloom_fnr_zero(pipeline, spark):
    """FNR must be 0 (`02:141-147`): a transaction in a *known* tile is
    NEVER flagged — blooms cannot false-negative on inserted items."""
    tx, tiles, anomalies = pipeline["tx"], pipeline["tiles"], pipeline["anomalies"]
    blooms = train_blooms(tiles, fpr=0.01).persist()
    known = tx.join(
        anomalies.select("user", "latitude", "longitude"),
        ["user", "latitude", "longitude"],
        "left_anti",
    )
    scored = score_with_blooms(known, blooms, precision=PRECISION)
    assert scored.filter(F.col("anomaly") == 1).count() == 0


def test_bloom_recall_vs_batch(pipeline, spark):
    """The 78-of-81 relation (`02:258`): bloom catches almost all batch
    anomalies; misses are bloom false positives, bounded by the ~1% FPR
    (binomial slack applied)."""
    tiles, anomalies = pipeline["tiles"], pipeline["anomalies"]
    blooms = train_blooms(tiles, fpr=0.01)
    scored = score_with_blooms(anomalies, blooms, precision=PRECISION)
    n = scored.count()
    flagged = scored.filter(F.col("anomaly") == 1).count()
    assert flagged >= n * 0.95  # miss rate well under 5%


def test_pandas_scorer_matches_distributed(pipeline, spark):
    """Serving parity (§5.2.4): the pyfunc-style pandas path and the
    native SQL path give the exact same score on every row, including
    off-tile points, an unseen user and a one-tile user. At fpr=0.05 the
    one-tile bloom sits at the 8-bit floor of m, so every position falls
    in the first bits byte; at 0.01 it spills into a second one."""
    tx, tiles = pipeline["tx"], pipeline["tiles"]
    sample = tx.limit(500).toPandas()
    lat, lng = 40.7, -74.0
    solo_tile = cell_id_py(lat, lng, PRECISION)
    extra = pd.DataFrame(
        {
            "latitude": [lat, lat + 0.5, lat],
            "longitude": [lng, lng, lng],
            "amount": [1.0, 2.0, 3.0],
            "user": ["solo", "solo", "nobody"],
        }
    )
    off_tile = sample.head(50).assign(latitude=lambda d: d["latitude"] + 0.5)
    sample = pd.concat([sample, off_tile, extra], ignore_index=True)
    sample.insert(0, "rid", np.arange(len(sample)))
    train = tiles.select("user", "h3").unionByName(
        spark.createDataFrame([("solo", solo_tile)], "user string, h3 string")
    )
    for fpr, solo_m in ((0.01, 10), (0.05, 8)):
        blooms_df = train_blooms(train, fpr=fpr).persist()
        lookup = H3Lookup.from_model_df(blooms_df, precision=PRECISION)
        assert lookup.blooms["solo"].m == solo_m
        local = lookup.predict(sample).set_index("rid")["anomaly"]
        dist = (
            score_with_blooms(spark.createDataFrame(sample), blooms_df, precision=PRECISION)
            .toPandas()
            .set_index("rid")["anomaly"]
        )
        assert dist.sort_index().tolist() == local.sort_index().tolist()
        # solo on its tile, nobody (solo off its tile may be a false positive)
        assert local.loc[[len(sample) - 3, len(sample) - 1]].tolist() == [0, 1]
        blooms_df.unpersist()


def test_score_with_blooms_runs_no_python(pipeline, spark, tmp_path):
    """The membership test is a native expression: the executed plan has
    no Python-worker node, so a batch pays no Python-task floor."""
    path = str(tmp_path / "blooms")
    train_blooms(pipeline["tiles"]).write.parquet(path)
    scored = score_with_blooms(
        pipeline["tx"].limit(200), spark.read.parquet(path), precision=PRECISION
    )
    scored.collect()
    plan = scored._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in plan, plan


def test_unseen_user_anomaly(pipeline, spark):
    """`bu:35` KeyError fixed: unseen users score anomaly=1."""
    blooms_df = train_blooms(pipeline["tiles"], fpr=0.01)
    stranger = spark.createDataFrame(
        [("nobody", 40.75, -74.0, 9.99)], ["user", "latitude", "longitude", "amount"]
    )
    row = score_with_blooms(stranger, blooms_df, precision=PRECISION).collect()[0]
    assert row["anomaly"] == 1
    lookup = H3Lookup.from_model_df(blooms_df, precision=PRECISION)
    out = lookup.predict(
        pd.DataFrame({"user": ["nobody"], "latitude": [40.75], "longitude": [-74.0]})
    )
    assert out["anomaly"].iloc[0] == 1


def test_bloom_roundtrip():
    bf = BloomFilter(100, 0.01)
    items = [f"CELL{i:08X}" for i in range(100)]
    bf.update(items)
    raw = bf.to_bytes()
    bf2 = BloomFilter.from_bytes(raw)
    assert all(i in bf2 for i in items)
    fp = sum(f"OTHER{i}" in bf2 for i in range(10000))
    assert fp < 300  # ~1% + slack


def _parent_layout_bloom(cells, m=None, fpr=0.01):
    """A bloom in the previous serialized layout: blake2b positions and a
    little-endian m/k header with no version byte."""
    n = len(cells)
    m = m or max(8, math.ceil(-n * math.log(fpr) / math.log(2) ** 2))
    k = max(1, round(m / n * math.log(2)))
    bits = bytearray((m + 7) // 8)
    for c in cells:
        d = hashlib.blake2b(c.encode("utf-8"), digest_size=16).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little") | 1
        for i in range(k):
            p = (h1 + i * h2) % m
            bits[p >> 3] |= 1 << (p & 7)
    return m.to_bytes(8, "little") + k.to_bytes(2, "little") + bytes(bits)


def test_old_bloom_format_fails_loudly(spark):
    """A bloom in the previous layout must never score silently: both the
    Python reader and the SQL scorer raise an error naming the format.
    m=258 makes the old blob's first byte equal the version byte; the
    header/length check still rejects it."""
    lat, lng = 40.7, -74.0
    cells = [cell_id_py(lat + i * 0.001, lng, PRECISION) for i in range(20)]
    for m in (None, 258):
        raw = _parent_layout_bloom(cells, m=m)
        assert m is None or raw[0] == 2
        with pytest.raises(ValueError, match="bloom format"):
            BloomFilter.from_bytes(raw)
        blooms = spark.createDataFrame([("u", 20, raw)], "user string, n_tiles long, bloom binary")
        tx = spark.createDataFrame([("u", lat, lng)], "user string, latitude double, longitude double")
        with pytest.raises(Exception, match="bloom format"):
            score_with_blooms(tx, blooms, precision=PRECISION).collect()


@pytest.mark.parametrize("m, k", [(0, 3), (16, 0)], ids=["m0", "k0"])
def test_impossible_bloom_header_rejected(spark, m, k):
    """A v2 header with m = 0 or k = 0 is never written; with k = 0 every
    tile would pass as a member, with m = 0 scoring divides by zero.
    Every reader rejects it up front with the format error."""
    raw = bytes([2]) + m.to_bytes(8, "big") + k.to_bytes(2, "big") + bytes((m + 7) // 8)
    with pytest.raises(ValueError, match="bloom format"):
        BloomFilter.from_bytes(raw)
    blooms = spark.createDataFrame([("u", 1, raw)], "user string, n_tiles long, bloom binary")
    with pytest.raises(ValueError, match="bloom format"):
        H3Lookup.from_model_df(blooms, precision=PRECISION)
    tx = spark.createDataFrame([("u", 40.7, -74.0)], "user string, latitude double, longitude double")
    with pytest.raises(Exception, match="bloom format"):
        score_with_blooms(tx, blooms, precision=PRECISION).collect()


def test_streaming_scores_match_batch(pipeline, spark, tmp_path):
    """foreachBatch/stream-static path produces the same anomaly set as
    the batch anti-join (§2.9 parity)."""
    tx, tiles = pipeline["tx"], pipeline["tiles"]
    src = str(tmp_path / "stream_src")
    tx.limit(800).coalesce(1).write.mode("overwrite").parquet(src)

    from geoscan_fraud_spark.streaming.scoring import score_stream

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    scored = score_stream(stream, tiles, res=PRECISION)
    q = (
        scored.writeStream.format("memory")
        .queryName("anomalies_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM anomalies_stream").collect()[0]["n"]
    want = extract_anomalies(
        spark.read.parquet(src), tiles, res=PRECISION
    ).count()
    assert got == want
