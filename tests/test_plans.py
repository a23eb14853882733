"""Physical-plan regression tests — the properties that matter at 100 TB.

If one of these fails after a change, a scan stopped pruning, a broadcast
became a shuffle, or a Python boundary crept into a JVM-only path.
"""

from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.scoring import (
    event_anomalies,
    extract_anomalies,
    with_cell,
)
from geoscan_fraud_spark.plans.audit import plan_summary, scan_read_schemas
from geoscan_fraud_spark.sources.io import load_fixture


def test_flagship_no_sortmerge_no_python(spark, sf_dir):
    s = plan_summary(event_anomalies(spark, sf_dir))
    assert s["sortmerge_joins"] == 0  # profile broadcasts
    assert s["python_eval"] == 0  # all-JVM
    assert s["broadcast_joins"] >= 2


def test_pruned_scan_reads_only_needed_columns(spark, sf_dir):
    df = (
        load_fixture(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") < 5.0)
        .select("l_orderkey", "l_quantity")
    )
    schemas = scan_read_schemas(df)
    assert len(schemas) == 1
    # 2 projected + filter column, nothing else from the 11-column table
    assert schemas[0].count(",") <= 2, schemas[0]
    assert plan_summary(df)["pushed_filters"] == 1


def test_anomaly_join_is_broadcast_no_shuffle_of_big_side(spark, sf_dir):
    ev = load_fixture(spark, sf_dir, "events")
    tx = ev.select(
        (F.col("value") / 100.0 + 40.0).alias("latitude"),
        (F.col("value") / 100.0 - 74.0).alias("longitude"),
        F.col("user_id").cast("string").alias("user"),
    )
    tiles = (
        with_cell(tx, res=10).select("user", "h3").distinct().withColumn("cluster", F.lit(0))
    )
    s = plan_summary(extract_anomalies(tx, tiles))
    assert s["sortmerge_joins"] == 0
    assert s["broadcast_joins"] == 1
    # the only exchange feeds the broadcast build side (tiles distinct),
    # never the transaction stream
    assert s["shuffles"] <= 1


def test_cell_id_is_pure_jvm(spark, sf_dir):
    ev = load_fixture(spark, sf_dir, "events")
    df = ev.select(
        F.col("event_id"),
        (F.col("value") / 100).alias("latitude"),
        (F.col("value") / 200).alias("longitude"),
    )
    s = plan_summary(with_cell(df))
    assert s["python_eval"] == 0
    assert s["shuffles"] == 0
