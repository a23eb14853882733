"""Harness entries for the iterative geo operators.

Density clustering (iterative connected components), polygon fill, and
bloom scoring are not directly SQL-expressible, so these entries are
either rows-only (semantics pinned by the property tests in
tests/test_geoscan.py and tests/test_pipeline.py) or — where the input
can be a pinned sf-independent mini-fixture — value-oracled against a
baked golden (`geoscan_personalized_tiles`). Inputs are deterministic,
so row counts and goldens are stable across runs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from geoscan_fraud_spark.harness import _events_coords, _ordered, register
from geoscan_fraud_spark.operators.bloom import score_with_blooms, train_blooms
from geoscan_fraud_spark.operators.geoscan import Geoscan
from geoscan_fraud_spark.operators.personalized import GeoscanPersonalized
from geoscan_fraud_spark.operators.scoring import extract_anomalies
from geoscan_fraud_spark.operators.tiles import tile_tfidf


def _dense_points(spark, sf_dir):
    """Events projected into a ~1 km² box — dense enough to cluster."""
    pts = _events_coords(spark, sf_dir)
    v = F.col("latitude") * 1000.0  # spread over [40500, 40700]
    return pts.select(
        F.col("event_id"),
        (F.col("user_id") % 10).cast("string").alias("user"),
        (F.lit(40.70) + (v - F.floor(v / 11.0) * 11.0) / 1000.0).alias("latitude"),
        (F.lit(-74.00) + (v - F.floor(v / 7.0) * 7.0) / 700.0).alias("longitude"),
    )


@register(
    "ref_csv_unclustered",
    sql="""
    SELECT CAST(n_rows AS INTEGER) AS n_rows,
           CAST(n_users AS INTEGER) AS n_users,
           CAST(sum_amount AS DOUBLE) AS sum_amount,
           sum_lat, sum_lng,
           CAST(row_digest AS BIGINT) AS row_digest
    FROM (VALUES
      (1727, 5, 177071.68,
       '70344.732120726077120', '-127792.855053507400630',
       6127697113465282967)
    ) AS t(n_rows, n_users, sum_amount, sum_lat, sum_lng, row_digest)
    """,
)
def ref_csv_unclustered(spark, sf_dir):
    """Golden parity run on the reference's OWN shipped dataset
    (`/root/reference/data/transactions.csv`, read-only): distributed fit
    at the reference's logged params epsilon=200 / minPts=20
    (`01_geofraud_clustering.py:129-130`), take the transactions left
    unclustered, and return a one-row DIGEST of that set — count (1,727,
    matching the reference prose's "~2,000 non-clustered transactions",
    `01:227`), distinct users, exact DECIMAL column sums, and an
    order-insensitive xor of per-row xxhash64 — pinned against a literal
    golden (the `geoscan_distributed_fit` pattern, not a rows-only
    check). The digest is verified partition-invariant
    (recomputed identical under `repartition(17)`); any change to the
    clustering decisions, the surviving rows, or their values flips it."""
    from geoscan_fraud_spark.operators.geoscan import Geoscan
    from geoscan_fraud_spark.sources.io import TRANSACTIONS_SCHEMA, read_csv

    df = read_csv(spark, "/root/reference/data/transactions.csv", TRANSACTIONS_SCHEMA)
    model = Geoscan().setEpsilon(200.0).setMinPts(20).fit(df)
    unclustered = (
        model.transform(df)
        .filter(F.col("cluster").isNull())
        .select("user", "latitude", "longitude", "amount")
    )
    return unclustered.agg(
        F.count(F.lit(1)).cast("int").alias("n_rows"),
        F.countDistinct("user").cast("int").alias("n_users"),
        F.sum(F.col("amount").cast("decimal(12,2)")).cast("double").alias("sum_amount"),
        F.sum(F.col("latitude").cast("decimal(24,15)")).cast("string").alias("sum_lat"),
        F.sum(F.col("longitude").cast("decimal(24,15)")).cast("string").alias("sum_lng"),
        F.expr("bit_xor(xxhash64(user, latitude, longitude, amount))").alias(
            "row_digest"
        ),
    )


def _grid_points(lat0, lng0, size, cols):
    """``size`` points on a ``cols``-wide grid of ~11 m spacing anchored
    at (lat0, lng0) — the building block of both pinned oracle fixtures
    (identical float expressions keep the baked goldens replayable)."""
    return [
        (lat0 + (i % cols) * 1e-4, lng0 + (i // cols) * 1e-4)
        for i in range(size)
    ]


def _pinned_fit_points(spark):
    """Pinned sf-independent fixture for the distributed-fit oracle: five
    grid clusters with DISTINCT sizes (8/15/24/40/60 points, 11 m
    spacing) ~2 km apart plus five isolated noise singletons ~5 km off.
    epsilon=50 / minPts=5 keeps every membership decision far from the
    threshold; the fit is verified partition-invariant."""
    rows = []
    for ci, size in enumerate([8, 15, 24, 40, 60]):
        pts = _grid_points(40.70 + ci * 0.02, -74.00 + ci * 0.015, size, 5)
        rows.extend(pts)
    rows.extend((40.65 - k * 0.02, -74.10 - k * 0.02) for k in range(5))
    return spark.createDataFrame(
        [(i, lat, lng) for i, (lat, lng) in enumerate(rows)],
        "event_id long, latitude double, longitude double",
    )


@register(
    "geoscan_distributed_fit",
    sql="""
    SELECT * FROM (VALUES
      (1, 60), (2, 40), (3, 24), (4, 15), (5, 8)
    ) AS t(cluster_rank, n_points)
    """,
)
def geoscan_distributed_fit(spark, sf_dir):
    """M2 — distributed fit, value-oracled against a baked golden (same
    pinned-mini-fixture pattern as `geoscan_personalized_tiles`): the
    whole grid-pair/degree-filter/CC/hull path must recover exactly the
    five planted cluster sizes and exclude all noise singletons. Cluster
    labels are normalized to a size-descending rank (sizes are distinct
    by construction), so the golden pins cluster STRUCTURE, not the CC
    kernel's label choice. The sf-scaled distributed fit additionally
    runs in `geoscan_score_pipeline` and `ref_csv_unclustered` (1,727
    golden, `01:227`)."""
    from pyspark.sql import Window

    pts = _pinned_fit_points(spark)
    model = Geoscan().setEpsilon(50.0).setMinPts(5).fit(pts)
    w = Window.orderBy(F.col("n_points").desc())
    return model.polygons.select(
        F.row_number().over(w).alias("cluster_rank"), "n_points"
    )


def _pinned_personalized_points(spark):
    """Pinned sf-independent mini-fixture for the per-group fit oracle:
    3 users x (2 tight 12-point grid clusters ~1.3 km apart + 1 noise
    point ~3 km away). Point spacing ~11 m with epsilon=50 m and
    minPts=5, so every cluster membership decision sits far from the
    threshold — the fit result is robust, replayable, and verified
    partition-invariant (tests + the two-partitioning check used to
    produce the golden below)."""
    rows = []
    for u in range(3):
        for c in range(2):
            pts = _grid_points(
                40.70 + u * 0.05 + c * 0.012, -74.00 + u * 0.03 - c * 0.012, 12, 4
            )
            rows.extend((f"u{u}", lat, lng) for lat, lng in pts)
        rows.append((f"u{u}", 40.70 + u * 0.05 + 0.03, -74.00 + u * 0.03 + 0.03))
    return spark.createDataFrame(
        rows, "user string, latitude double, longitude double"
    )


_PERSONALIZED_TILES_GOLDEN = """
    SELECT * FROM (VALUES
      ('u0', 1, '0A0035E52002BB5B'),
      ('u0', 1, '0A0035E52002BB5C'),
      ('u0', 1, '0A0035E52002BB5D'),
      ('u0', 1, '0A0035E52002BB5E'),
      ('u0', 1, '0A0035E53002BB5B'),
      ('u0', 1, '0A0035E53002BB5C'),
      ('u0', 1, '0A0035E53002BB5D'),
      ('u0', 1, '0A0035E53002BB5E'),
      ('u0', 1, '0A0035E54002BB5B'),
      ('u0', 1, '0A0035E54002BB5C'),
      ('u0', 1, '0A0035E54002BB5D'),
      ('u0', 1, '0A0035E54002BB5E'),
      ('u0', 1, '0A0035E55002BB5B'),
      ('u0', 1, '0A0035E55002BB5C'),
      ('u0', 1, '0A0035E55002BB5D'),
      ('u0', 1, '0A0035E55002BB5E'),
      ('u0', 2, '0A0035E66002BB47'),
      ('u0', 2, '0A0035E66002BB48'),
      ('u0', 2, '0A0035E66002BB49'),
      ('u0', 2, '0A0035E67002BB47'),
      ('u0', 2, '0A0035E67002BB48'),
      ('u0', 2, '0A0035E67002BB49'),
      ('u0', 2, '0A0035E68002BB47'),
      ('u0', 2, '0A0035E68002BB48'),
      ('u0', 2, '0A0035E68002BB49'),
      ('u0', 2, '0A0035E69002BB47'),
      ('u0', 2, '0A0035E69002BB48'),
      ('u0', 2, '0A0035E69002BB49'),
      ('u1', 1, '0A0035EA7002BB8E'),
      ('u1', 1, '0A0035EA7002BB8F'),
      ('u1', 1, '0A0035EA7002BB90'),
      ('u1', 1, '0A0035EA8002BB8E'),
      ('u1', 1, '0A0035EA8002BB8F'),
      ('u1', 1, '0A0035EA8002BB90'),
      ('u1', 1, '0A0035EA9002BB8E'),
      ('u1', 1, '0A0035EA9002BB8F'),
      ('u1', 1, '0A0035EA9002BB90'),
      ('u1', 2, '0A0035EBB002BB7A'),
      ('u1', 2, '0A0035EBB002BB7B'),
      ('u1', 2, '0A0035EBB002BB7C'),
      ('u1', 2, '0A0035EBC002BB7A'),
      ('u1', 2, '0A0035EBC002BB7B'),
      ('u1', 2, '0A0035EBC002BB7C'),
      ('u1', 2, '0A0035EBD002BB7A'),
      ('u1', 2, '0A0035EBD002BB7B'),
      ('u1', 2, '0A0035EBD002BB7C'),
      ('u2', 1, '0A0035EFB002BBC1'),
      ('u2', 1, '0A0035EFB002BBC2'),
      ('u2', 1, '0A0035EFB002BBC3'),
      ('u2', 1, '0A0035EFC002BBC1'),
      ('u2', 1, '0A0035EFC002BBC2'),
      ('u2', 1, '0A0035EFC002BBC3'),
      ('u2', 1, '0A0035EFD002BBC1'),
      ('u2', 1, '0A0035EFD002BBC2'),
      ('u2', 1, '0A0035EFD002BBC3'),
      ('u2', 1, '0A0035EFE002BBC1'),
      ('u2', 1, '0A0035EFE002BBC2'),
      ('u2', 1, '0A0035EFE002BBC3'),
      ('u2', 2, '0A0035F0F002BBAC'),
      ('u2', 2, '0A0035F0F002BBAD'),
      ('u2', 2, '0A0035F0F002BBAE'),
      ('u2', 2, '0A0035F0F002BBAF'),
      ('u2', 2, '0A0035F10002BBAC'),
      ('u2', 2, '0A0035F10002BBAD'),
      ('u2', 2, '0A0035F10002BBAE'),
      ('u2', 2, '0A0035F10002BBAF'),
      ('u2', 2, '0A0035F11002BBAC'),
      ('u2', 2, '0A0035F11002BBAD'),
      ('u2', 2, '0A0035F11002BBAE'),
      ('u2', 2, '0A0035F11002BBAF'),
      ('u2', 2, '0A0035F12002BBAC'),
      ('u2', 2, '0A0035F12002BBAD'),
      ('u2', 2, '0A0035F12002BBAE'),
      ('u2', 2, '0A0035F12002BBAF')
    ) AS t("user", cluster, h3)
    """


@register("geoscan_personalized_tiles", sql=_PERSONALIZED_TILES_GOLDEN)
def geoscan_personalized_tiles(spark, sf_dir):
    """M7/M9 — per-group fit + getTiles, upgraded from rows-only to a full
    value oracle: the input is a pinned deterministic
    mini-fixture (sf-independent), so the expected (user, cluster, h3)
    tile set is baked into the oracle as literals — a golden regression
    oracle in the spirit of `01:364-365` getTiles schema. Cluster labels
    are normalized to a dense rank by each cluster's min tile id, so the
    golden pins cluster STRUCTURE (which tiles co-cluster), not the CC
    kernel's internal label choice."""
    from pyspark.sql import Window

    pts = _pinned_personalized_points(spark)
    model = (
        GeoscanPersonalized()
        .setEpsilon(50.0)
        .setMinPts(5)
        .setGroupedCol("user")
        .fit(pts)
    )
    tiles = model.getTiles(10, 1)
    cl = tiles.groupBy("user", "cluster").agg(F.min("h3").alias("__cmin"))
    w = Window.partitionBy("user").orderBy("__cmin")
    ranked = cl.withColumn("cluster_rank", F.dense_rank().over(w).cast("long"))
    return (
        tiles.join(ranked, ["user", "cluster"])
        .select("user", F.col("cluster_rank").alias("cluster"), "h3")
    )


def score_pipeline(pts, epsilon=80.0, min_pts=5, res=11):
    """M10 + flagship + bloom: fit -> tiles -> tf-idf -> anti-join + bloom
    scoring; output = per-user anomaly counts from both paths. Shared by
    the oracled registry entry (pinned fixture) and the bench variant
    (sf-scaled `_dense_points`)."""
    # pts feeds fit, tf-idf (twice), the anti-join, and bloom scoring
    pts = pts.persist()
    model = (
        GeoscanPersonalized()
        .setEpsilon(epsilon)
        .setMinPts(min_pts)
        .setGroupedCol("user")
        .fit(pts)
    )
    tiles = model.getTiles(res, 1).persist()
    scored_tiles = tile_tfidf(tiles, pts, res=res)
    anomalies = extract_anomalies(pts, tiles, res=res)
    blooms = train_blooms(tiles, fpr=0.01)
    bloom_scored = score_with_blooms(pts, blooms, precision=res)
    anti = anomalies.groupBy("user").agg(F.count(F.lit(1)).alias("anti_anomalies"))
    blm = (
        bloom_scored.filter(F.col("anomaly") == 1)
        .groupBy("user")
        .agg(F.count(F.lit(1)).alias("bloom_anomalies"))
    )
    # tfidf_rows rides the result plan as a one-row broadcast aggregate
    # (guide §1.2/§5): a driver-side `scored_tiles.count()` would be a
    # separately scheduled job per invocation whose only consumer is a
    # literal column. The cross join against a single aggregated
    # row is a broadcast nested loop over 2-3 user rows; `cast("int")`
    # keeps the column's observable type identical to the old
    # `F.lit(python_int)` (IntegerType — the golden pins it).
    n_tfidf_rel = scored_tiles.agg(
        F.count(F.lit(1)).cast("int").alias("tfidf_rows")
    )
    return _ordered(
        anti.join(blm, "user", "full_outer").crossJoin(
            F.broadcast(n_tfidf_rel)
        ),
        "user",
    )


def score_pipeline_dense(spark, sf_dir):
    """The sf-scaled composite (fit + tf-idf + anti-join + bloom over
    `_dense_points`) — the bench's `geoscan_score_pipeline` line, kept
    sf-dependent so its timing stays comparable across rounds."""
    return score_pipeline(_dense_points(spark, sf_dir), 80.0, 5, res=11)


_SCORE_PIPELINE_GOLDEN = """
    SELECT * FROM (VALUES
      ('u0', 1, 1, 14), ('u1', 1, 1, 14), ('u2', 1, 1, 14)
    ) AS t("user", anti_anomalies, bloom_anomalies, tfidf_rows)
    """


@register("geoscan_score_pipeline", sql=_SCORE_PIPELINE_GOLDEN)
def geoscan_score_pipeline(spark, sf_dir):
    """The same composite on the pinned 3-user fixture, value-oracled
    against a baked golden (pinned-mini-fixture pattern): per user, the
    planted noise point must be flagged by BOTH the anti-join and the
    bloom path (bloom false positives at fpr=0.01 are deterministic
    given the md5 hash family of `BloomFilter`, and none occur on this
    fixture), and the
    tf-idf relation must keep one row per (user, cluster, tile)."""
    return score_pipeline(_pinned_personalized_points(spark), 50.0, 5, res=10)
