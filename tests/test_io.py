"""IO layer parity (SURVEY §2.1): CSV source with the reference schema,
managed tables + DDL, sorted layout, TTL filter, and golden checks on the
reference's actual shipped CSV (read-only)."""

import os

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.sources import io as eio

REFERENCE_CSV = "/root/reference/data/transactions.csv"


def test_csv_roundtrip_with_schema(spark, tmp_path):
    from geoscan_fraud_spark.testing.datagen import make_transactions

    pdf = make_transactions(n_users=2, points_per_user=50, seed=3)
    p = str(tmp_path / "tx.csv")
    pdf.to_csv(p, index=False)
    df = eio.read_csv(spark, p, eio.TRANSACTIONS_SCHEMA)
    assert df.schema == eio.TRANSACTIONS_SCHEMA
    assert df.count() == len(pdf)
    # values survive the trip
    assert abs(
        df.agg(F.sum("amount")).collect()[0][0] - pdf["amount"].sum()
    ) < 1e-6


def test_ddl_and_managed_table(spark, tmp_path):
    eio.create_database(spark, "gfs_test_db")
    try:
        df = spark.range(10).withColumn("v", F.col("id") * 2)
        eio.write_table(df, "gfs_test_db.t1")
        back = eio.read_table(spark, "gfs_test_db.t1")
        assert back.count() == 10
        assert {r["v"] for r in back.collect()} == {i * 2 for i in range(10)}
    finally:
        spark.sql("USE default")
        eio.drop_database(spark, "gfs_test_db")
    assert "gfs_test_db" not in [d.name for d in spark.catalog.listDatabases()]


def test_sorted_layout_and_ttl(spark, tmp_path):
    from geoscan_fraud_spark.sources.io import load_fixture, with_ttl_filter

    ev = load_fixture(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"), "events")
    p = str(tmp_path / "sorted_ev")
    eio.write_sorted_layout(ev, p, ["user_id", "event_id"], num_files=4)
    back = spark.read.parquet(p)
    assert back.count() == ev.count()
    # TTL filter: fixture data is all old -> everything expires
    assert with_ttl_filter(back, "ts").count() == 0


def test_csv_artifact_sink(spark, tmp_path):
    df = spark.range(5).withColumn("v", F.col("id") * 3)
    p = str(tmp_path / "artifact.csv")
    eio.write_csv_artifact(df, p)
    import pandas as pd

    back = pd.read_csv(p)
    assert len(back) == 5 and set(back.columns) == {"id", "v"}


def test_online_store_sink_passthrough(spark, tmp_path):
    """The generic connector sink drives any DataSourceV2 format; parquet
    stands in for the reference's mongo connector (`02:293-304`)."""
    df = spark.range(7).withColumn("v", F.col("id") * 2)
    p = str(tmp_path / "store")
    eio.write_online_store(df, "parquet", mode="overwrite", path=p)
    assert spark.read.parquet(p).count() == 7
    # append mode appends
    eio.write_online_store(df, "parquet", mode="append", path=p)
    assert spark.read.parquet(p).count() == 14


def test_yaml_config_roundtrip(spark, tmp_path):
    from geoscan_fraud_spark.config import init_database, load_config, teardown

    p = tmp_path / "app.yaml"
    p.write_text(
        "database:\n  name: gfs_cfg_db\n  tables:\n    tiles: tiles\n"
        "model:\n  name: m\n  path: /tmp/gfs_cfg_model\n"
    )
    cfg = load_config(str(p))
    assert cfg.table("tiles") == "gfs_cfg_db.tiles"
    init_database(spark, cfg)
    try:
        assert "gfs_cfg_db" in [d.name for d in spark.catalog.listDatabases()]
    finally:
        teardown(spark, cfg)


@pytest.mark.skipif(
    not os.path.exists(REFERENCE_CSV), reason="reference CSV not present"
)
def test_reference_csv_golden_invariants(spark):
    """Measured invariants of the shipped reference dataset (SURVEY §5.2.2):
    10,068 rows, 5 users, NYC bounding box — then a full engine pipeline
    run over the real data."""
    df = eio.read_csv(spark, REFERENCE_CSV, eio.TRANSACTIONS_SCHEMA)
    assert df.count() == 10_068
    assert df.select("user").distinct().count() == 5
    stats = df.agg(
        F.min("latitude"), F.max("latitude"), F.min("longitude"), F.max("longitude")
    ).collect()[0]
    assert 40.70 < stats[0] and stats[1] < 40.77
    assert -74.03 < stats[2] and stats[3] < -73.96

    from geoscan_fraud_spark.operators.bloom import score_with_blooms, train_blooms
    from geoscan_fraud_spark.operators.personalized import GeoscanPersonalized
    from geoscan_fraud_spark.operators.scoring import extract_anomalies

    model = (
        GeoscanPersonalized().setEpsilon(100.0).setMinPts(3).setGroupedCol("user").fit(df)
    )
    tiles = model.getTiles(10, 3).persist()
    anomalies = extract_anomalies(df, tiles, res=10).persist()
    n_anom, n_total = anomalies.count(), df.count()
    # dense synthetic clusters: most transactions sit in known tiles
    assert 0 < n_anom < n_total * 0.2

    blooms = train_blooms(tiles, fpr=0.01)
    flagged = (
        score_with_blooms(df, blooms, precision=10).filter(F.col("anomaly") == 1).count()
    )
    # bloom path agrees with the batch path up to bloom FPR (the 78-of-81
    # relation, `02:258`): flagged <= anomalies, and within 1%+slack
    assert flagged <= n_anom
    assert n_anom - flagged <= max(10, 0.02 * n_anom)


def test_compact_files_merges_small_files(spark, tmp_path):
    from geoscan_fraud_spark.sources.io import compact_files

    path = str(tmp_path / "frag")
    # 40 tiny appends -> 40+ files
    for i in range(10):
        spark.range(i * 100, (i + 1) * 100).write.mode("append").parquet(path)
    import os

    def data_files(p):
        out = []
        for root, _d, files in os.walk(p):
            out += [f for f in files if f.endswith(".parquet")]
        return out

    before = len(data_files(path))
    assert before >= 10
    n = compact_files(spark, path, target_mb=128)
    after = len(data_files(path))
    assert n == 1 and after == 1
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(1000))
