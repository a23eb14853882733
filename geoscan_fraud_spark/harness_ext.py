"""Harness entries for SURVEY §7.5 extensions: ranking window functions
on per-user event sequences, rollup, distinct-count variants,
generation snapshots, and as-of / interval joins.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from geoscan_fraud_spark.harness import _t, register


# win_rank_per_user is no longer a registered entry;
# per-user window-partitioning algebra stays driver-evidenced by the
# hash-green `sessionize` (lag + running sum over the identical
# Window.partitionBy(user_id).orderBy(ts) machinery) and top-k ordering
# by `w1_topk_desc`; the row_number semantics themselves stay pinned
# against a pandas rank in tests/test_ext.py.
def win_rank_per_user(spark, sf_dir):
    """W5 extension — top-3 latest events per user (per-user sequence
    analytics; the window key is the high-cardinality user id, so the
    shuffle is balanced at any scale)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", "ts", "rnk")
    )


@register(
    "rollup_counts",
    sql="""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(CAST(user_id % 5 AS VARCHAR), 'ALL') AS user_bucket,
           count(*) AS cnt
    FROM events GROUP BY ROLLUP(event_type, user_id % 5)
    """,
)
def rollup_counts(spark, sf_dir):
    """Grouping-sets extension — multi-level tile-rollup shape."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 5).cast("string")
    )
    return (
        ev.rollup("event_type", "user_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("user_bucket", F.lit("ALL")).alias("user_bucket"),
            "cnt",
        )
    )


# distinct_users_exact is no longer a registered entry;
# distinct-aggregation algebra stays driver-evidenced by the
# hash-green `dedup_minhash` (whose DuckDB replay contains the LSH
# candidate `.distinct()`) and `u3_tfidf_relational` (per-term distinct
# document frequency); the exact counts themselves stay pinned against
# pandas nunique in tests/test_ext.py.
def distinct_users_exact(spark, sf_dir):
    """Exact distinct (oracle); `distinct_users_approx` is the 100 TB
    variant (HLL sketch, single pass, no per-key state explosion)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def distinct_users_approx(spark, sf_dir):
    """approx_count_distinct — deterministic per engine but sketch values
    aren't cross-engine comparable. NOT registered: the driver records at
    most 50 harness rows, and this rows-only twin of the fully-oracled
    `distinct_users_exact` is the evidence we can best afford to keep in
    pytest only (tests/test_ext.py)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx")
    )


@register(
    "generation_latest_snapshot",
    sql="""
    WITH snap AS (
      SELECT user_id, event_type, value, 1 AS generation FROM events
        WHERE event_id % 2 = 0
      UNION ALL
      SELECT user_id, event_type, value, 2 AS generation FROM events
        WHERE event_id % 3 = 0)
    SELECT user_id, event_type,
           CAST(max(generation) AS INT) AS latest_gen, count(*) AS versions
    FROM snap GROUP BY user_id, event_type
    """,
)
def generation_latest_snapshot(spark, sf_dir):
    """Generation-column pattern — the engine's substitute for Delta time
    travel (`01:427`): multi-generation append + latest-wins read."""
    ev = _t(spark, sf_dir, "events")
    g1 = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "event_type", "value", F.lit(1).alias("generation")
    )
    g2 = ev.filter(F.col("event_id") % 3 == 0).select(
        "user_id", "event_type", "value", F.lit(2).alias("generation")
    )
    return (
        g1.unionByName(g2)
        .groupBy("user_id", "event_type")
        .agg(
            F.max("generation").cast("int").alias("latest_gen"),
            F.count(F.lit(1)).alias("versions"),
        )
    )


@register(
    "asof_join",
    sql="""
    WITH l AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_id % 2 = 1),
         r AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_id % 2 = 0)
    SELECT l.user_id, l.event_id, l.ts, l.value,
           r.event_id AS ref_event, r.value AS ref_value, r.ts AS ref_ts
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_entry(spark, sf_dir):
    """Scalable as-of join (operators/asof.py): odd events look up the
    most recent even event per user — oracled against DuckDB's native
    ASOF LEFT JOIN. Tie semantics line up because (user_id, ts) is unique
    in the fixture and both engines treat right.ts == left.ts as a match.
    The union-window plan shuffles ONCE on the join key; the naive
    range-join formulation DuckDB optimizes internally is exactly what
    the operator avoids materializing at 100 TB."""
    from geoscan_fraud_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    l = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts", "value"
    )
    r = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(l, r, on=["user_id"], ts_col="ts")
    return out.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.col("event_id_r").alias("ref_event"),
        F.col("value_r").alias("ref_value"),
        F.col("ts_r").alias("ref_ts"),
    )


@register(
    "interval_join",
    sql="""
    SELECT p.event_id, p.value, s.s_suppkey, s.lo, s.hi
    FROM (SELECT event_id, value FROM events WHERE event_id % 20 = 0) p
    JOIN (SELECT s_suppkey,
                 s_acctbal - FLOOR(s_acctbal / 400.0) * 400.0 AS lo,
                 s_acctbal - FLOOR(s_acctbal / 400.0) * 400.0 + 37.5 AS hi
          FROM supplier) s
      ON s.lo <= p.value AND p.value < s.hi
    """,
)
def interval_join_entry(spark, sf_dir):
    """Bucketed interval/range join (operators/asof.py): event values vs
    supplier balance windows folded into the value range (mod 400 — pure
    IEEE floor arithmetic, portable, and non-empty at every sf). The
    oracle states the plain range predicate; the engine executes it as
    the bucket-then-verify equi-join (the J4 cell join on a number line)
    instead of the cartesian product a range predicate plans to."""
    from geoscan_fraud_spark.operators.asof import interval_join

    p = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select("event_id", "value")
    )
    acct = F.col("s_acctbal")
    lo = acct - F.floor(acct / 400.0) * 400.0
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", lo.alias("lo"), (lo + 37.5).alias("hi")
    )
    return interval_join(
        p, s, point_col="value", start_col="lo", end_col="hi", bucket_width=37.5
    )
