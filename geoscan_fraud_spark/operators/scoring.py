"""Batch anomaly scoring — the reference's flagship relational query.

Reference call site `02_geofraud_fraud.py:62-68`:

    points_df
      .withColumn('h3', to_h3(lat, lng, lit(10)))
      .join(tiles, ['user','h3'], 'left_outer')
      .filter(F.expr('cluster IS NULL'))
      .drop('h3','cluster','tf_idf')

The engine exposes the idiomatic `left_anti` rewrite (Catalyst plans it as
one anti join — the IS-NULL filter disappears) plus the literal
left_outer+filter form for parity testing (SURVEY §2.3 J3).

Scale notes (100 TB): the tiles side is (users x tiles-per-user) — much
smaller than the transaction stream but still user-proportional, so the
engine does NOT force a broadcast. While it fits, AQE converts the anti
join to a broadcast join (map-only, zero shuffle of the large side); when
it outgrows broadcast range the plan degrades to a shuffle-hash join, and
the sorted layout written by `write_sorted_layout` (ZORDER approximation)
keeps that join pruned and balanced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geoscan_fraud_spark.functions.grid import cell_id
from geoscan_fraud_spark.sources.io import load_fixture


def with_cell(
    df: DataFrame,
    lat_col: str = "latitude",
    lng_col: str = "longitude",
    res: int = 10,
    out: str = "h3",
) -> DataFrame:
    """P3 + U1 — attach the grid cell id (native expr, no UDF)."""
    return df.withColumn(out, cell_id(F.col(lat_col), F.col(lng_col), res))


def extract_anomalies(
    transactions: DataFrame,
    tiles: DataFrame,
    res: int = 10,
    lat_col: str = "latitude",
    lng_col: str = "longitude",
    user_col: str = "user",
) -> DataFrame:
    """Transactions landing outside the user's known tiles (`02:62-68`).

    Idiomatic form: anti join on (user, h3); map-only when tiles broadcast.
    The tile table is users × tiles-per-user and grows with the user base,
    so the join strategy is left to AQE (broadcast while small,
    shuffle-hash at scale). No `distinct` on the keys: an anti join's
    output does not change with duplicate or NULL keys on the right.
    """
    pts = with_cell(transactions, lat_col, lng_col, res)
    return pts.join(tiles.select(user_col, "h3"), [user_col, "h3"], "left_anti").drop("h3")


def extract_anomalies_literal(
    transactions: DataFrame,
    tiles: DataFrame,
    res: int = 10,
    lat_col: str = "latitude",
    lng_col: str = "longitude",
    user_col: str = "user",
) -> DataFrame:
    """Literal reference form: left_outer + `cluster IS NULL` + drop.

    Kept to pin the semantics equivalence in tests (J3 parity). Duplicate
    tile rows on the right would multiply rows here, hence the
    `dropDuplicates`; the anti join in `extract_anomalies` needs none.
    """
    pts = with_cell(transactions, lat_col, lng_col, res)
    return (
        pts.join(
            tiles.select(user_col, "h3", "cluster").dropDuplicates([user_col, "h3"]),
            [user_col, "h3"],
            "left_outer",
        )
        .filter(F.expr("cluster IS NULL"))
        .drop("h3", "cluster")
    )


# ---------------------------------------------------------------------------
# Flagship query on the driver's `events` fixture (SURVEY §7.4)
# ---------------------------------------------------------------------------

VALUE_BUCKET_WIDTH = 50.0


def behavior_bucket(value: Column) -> Column:
    """Coarse behavioral cell over the 1-D `value` domain — the events-table
    analog of the H3 cell (same quantize-then-join shape)."""
    return F.floor(value / F.lit(VALUE_BUCKET_WIDTH)).cast("long")


def event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events in the last 7 days whose (user, event_type, value-bucket)
    envelope was never seen in that user's prior history.

    This is `02:62-68` on the driver fixtures: profile table <- history,
    score set <- the trailing 7-day window (the TTL window of
    `02_geofraud_fraud.py:286`), anti join on the behavior key.
    """
    events = load_fixture(spark, sf_dir, "events")
    cutoff = events.select(
        (F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff")
    )
    ev = events.crossJoin(F.broadcast(cutoff)).withColumn(
        "bucket", behavior_bucket(F.col("value"))
    )
    profile = (
        ev.filter(F.col("ts") < F.col("cutoff"))
        .select("user_id", "event_type", "bucket")
        .distinct()
    )
    scored = ev.filter(F.col("ts") >= F.col("cutoff"))
    # no orderBy: a global sort is a range exchange the consumer doesn't
    # need (the driver's compare is order-insensitive). No broadcast hint
    # on profile either — it is users × behavior and grows unboundedly;
    # AQE broadcasts it while small and falls back to shuffle at scale.
    return scored.join(
        profile, ["user_id", "event_type", "bucket"], "left_anti"
    ).select("event_id", "ts", "user_id", "event_type", "value")
