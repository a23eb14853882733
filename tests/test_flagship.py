import duckdb
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.scoring import (
    event_anomalies,
    extract_anomalies,
    extract_anomalies_literal,
)


def test_event_anomalies_matches_duckdb_oracle(spark, sf_dir):
    got = event_anomalies(spark, sf_dir).collect()
    assert len(got) > 0
    oracle = duckdb.sql(
        f"""
        WITH ev AS (
          SELECT *, CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket
          FROM read_parquet('{sf_dir}/events.parquet')
        ),
        cut AS (SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM ev),
        profile AS (
          SELECT DISTINCT user_id, event_type, bucket FROM ev, cut
          WHERE ts < cutoff
        )
        SELECT e.event_id FROM ev e, cut
        WHERE e.ts >= cut.cutoff
          AND NOT EXISTS (
            SELECT 1 FROM profile p
            WHERE p.user_id = e.user_id AND p.event_type = e.event_type
              AND p.bucket = e.bucket)
        ORDER BY e.event_id
        """
    ).fetchall()
    assert [r.event_id for r in got] == [r[0] for r in oracle]


def test_anti_join_equals_literal_form(spark, sf_dir):
    # synthesize a small transactions/tiles pair from events
    from geoscan_fraud_spark.sources.io import load_fixture

    ev = load_fixture(spark, sf_dir, "events")
    tx = ev.select(
        (40.7 + F.col("value") / 10000.0).alias("latitude"),
        (-74.0 + F.col("value") / 20000.0).alias("longitude"),
        F.col("value").alias("amount"),
        F.col("user_id").cast("string").alias("user"),
    )
    from geoscan_fraud_spark.operators.scoring import with_cell

    tiles = (
        with_cell(tx.sample(0.5, seed=7), res=10)
        .select("user", "h3")
        .distinct()
        .withColumn("cluster", F.lit(0))
        .withColumn("tf_idf", F.lit(1.0))
    )
    # a duplicated (user, h3) row and a NULL-user row: the anti join needs
    # no distinct on its right side to match the literal form
    dup = tiles.limit(1)
    dirty = tiles.unionByName(dup).unionByName(
        dup.withColumn("user", F.lit(None).cast("string"))
    )
    for t in (tiles, dirty):
        a = extract_anomalies(tx, t).count()
        b = extract_anomalies_literal(tx, t).count()
        assert a == b
