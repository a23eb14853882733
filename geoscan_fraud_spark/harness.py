"""Correctness-harness query registry (SURVEY §2 inventory → driver contract).

Each entry pairs a Spark DataFrame query (callable ``(spark, sf_dir) ->
DataFrame``) with, where SQL-expressible, an equivalent ANSI-SQL string the
driver runs through DuckDB on the same parquet fixtures. Column names are
aliased identically on both sides (the driver sorts columns by name and
value-hashes).

Determinism rules used throughout (so Spark and DuckDB hash-match):
* money/quantity sums go through DECIMAL casts (exact, order-insensitive)
  and are cast back to DOUBLE at the end;
* transcendental outputs (ln, trig) are rounded to a few decimals — the
  two engines' libm may differ in the last ulp;
* pure +,-,*,/ and floor arithmetic is IEEE-exact and left unrounded
  (the grid index oracle is bit-exact);
* set-producing queries never rely on result order; top-k queries carry a
  unique tiebreaker key.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoscan_fraud_spark.functions.geo import haversine_m
from geoscan_fraud_spark.functions.grid import cell_id
from geoscan_fraud_spark.operators import scoring
from geoscan_fraud_spark.sources.io import load_fixture

QueryFn = Callable[[SparkSession, str], DataFrame]

# An oracle is either a ready SQL string or a zero-arg callable resolved
# lazily at `oracle_sql()` time.  The callable form exists for oracles
# that are *derived from data* (e.g. the IVF quantizer literals): building
# them at import would make `import harness_pipeline` — and therefore the
# whole registry — depend on a fixture file existing on disk.
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str | Callable[[], str]] = {}


_scratch_root: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh directory for an entry's per-call store. Entries return lazy
    DataFrames that read their store, so they cannot remove it themselves;
    every store lives under one root per process instead, and the root is
    deleted at interpreter exit."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="geoscan_scratch_")
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)


def register(name: str, sql: str | Callable[[], str] | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _ordered(df, *cols):
    """Deterministic presentation order WITHOUT the RangePartitioning
    double-evaluation (guide §2.4: "an orderBy used only to make
    output deterministic"). A bare ``.orderBy`` plans a range exchange
    whose boundary sampling executes the child plan a SECOND time —
    measured 2x wall on the expensive dedup entries (dedup_simhash at
    sf0.1: 14.5 s with the bare sort vs 7.0 s unsorted vs 5.9 s with
    this helper). Materializing once (localCheckpoint) lets both the
    sample pass and the sort read the same executor-memory blocks; the
    returned rows — including their order — are bit-identical to the
    bare ``.orderBy``. Entry result sets are fixture-bounded (<= a few
    hundred KB), so the checkpoint is a no-risk lineage cut."""
    return df.localCheckpoint(eager=True).orderBy(*cols)


def resolved_oracles() -> dict[str, str]:
    """ORACLES with lazy entries resolved.  An entry whose thunk raises is
    dropped instead of poisoning the entire oracle dict that
    `oracle_sql()` hands out; `tests/test_oracle_parity.py` and
    `tools/check_oracle.py` fail that one entry by name."""
    out: dict[str, str] = {}
    for name, spec in ORACLES.items():
        if callable(spec):
            try:
                out[name] = spec()
            except Exception:
                continue
        else:
            out[name] = spec
    return out


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_fixture(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship — the reference's fraud anti-join (`02:62-68`) on events (§7.4)
# ---------------------------------------------------------------------------


@register(
    "flagship_event_anomalies",
    sql="""
    WITH ev AS (
      SELECT *, CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket FROM events
    ),
    cut AS (SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM ev),
    profile AS (
      SELECT DISTINCT user_id, event_type, bucket FROM ev, cut WHERE ts < cutoff
    )
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value
    FROM ev e, cut
    WHERE e.ts >= cut.cutoff
      AND NOT EXISTS (
        SELECT 1 FROM profile p
        WHERE p.user_id = e.user_id AND p.event_type = e.event_type
          AND p.bucket = e.bucket)
    """,
)
def flagship_event_anomalies(spark, sf_dir):
    return scoring.event_anomalies(spark, sf_dir)


# ---------------------------------------------------------------------------
# §2.1 sources / §2.2 projections & predicates
# ---------------------------------------------------------------------------


@register(
    "s2_pruned_scan",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 5.0
    """,
)
def s2_pruned_scan(spark, sf_dir):
    """S2 + predicate pushdown + column pruning (the scan reads 3 columns)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") < 5.0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


# j1_join_single_key is no longer a registered entry; single-key
# shuffle-equi-join + broadcast-dim + decimal-sum algebra stays
# driver-evidenced by the hash-green `salted_join` (composite-key equi
# join, same DECIMAL(18,2) sum idiom — also the named evidence for the
# j2 fold below), `u3_tfidf_relational` (single-key broadcast term
# join), and `flagship_event_anomalies` (key-equality anti-join); the
# exact three-table result stays pinned against pandas merge in
# tests/test_round8_fixes.py, and the bench still times it.
def j1_join_single_key(spark, sf_dir):
    """J1 — equi joins on one key. Only `nation` (fixed 25 rows) gets a
    broadcast hint; `customer` grows with sf (150k rows/sf), so its join
    strategy is left to AQE — a forced broadcast there OOMs at scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# J2 (two-key equi join) is no longer a registered entry (it was
# hash-green throughout); composite-key equi-join + decimal-sum algebra stays
# driver-evidenced by the hash-green `salted_join` (a two-key — key +
# salt — equi join with the same DECIMAL sum idiom, the skew-hardened
# variant of this exact shape), `interval_join` / `asof_join` (richer
# key+range join machinery), and `u3_tfidf_relational` (broadcast equi
# join); the exact aggregate-then-self-join result stays pinned against
# a pandas merge in tests/test_round10_fixes.py, and the bench still
# times it.
def j2_join_two_keys(spark, sf_dir):
    """J2 — two-key equi join (`01:401` shape)."""
    li = _t(spark, sf_dir, "lineitem")
    pq = li.groupBy("l_orderkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("part_qty")
    )
    return li.join(pq, ["l_orderkey", "l_partkey"]).select(
        "l_orderkey", "l_partkey", "l_linenumber", "part_qty"
    )


@register(
    "j3_anti_join",
    sql="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 450000.0)
    """,
)
def j3_anti_join(spark, sf_dir):
    """J3 — the left_anti form of `02:62-68`'s left_outer + IS NULL."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "salted_join",
    sql="""
    SELECT o.o_orderkey, c.c_nationkey
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def salted_join_entry(spark, sf_dir):
    """Skew-salted equi-join (`operators/skew.py`) — the oracle is the
    PLAIN join, pinning that deterministic key salting (skewed side
    scattered over 8 sub-keys, replicated side exploded 8x) is exactly
    semantics-preserving."""
    from geoscan_fraud_spark.operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    return salted_join(o, c, ["o_custkey"], salt=8).select(
        "o_orderkey", "c_nationkey"
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


# a2_collect_sorted is no longer a registered entry;
# deterministic sorted-collect algebra is now driver-evidenced INSIDE two
# hash-green entries — `remove_repeated_spans` (collect_list of marked
# positions, array_sort inside the interval-merge fold) and
# `bpe_ids_roundtrip` (the literal array_sort(collect_list(struct))
# reassembly idiom in `ids_to_text`) — and the entry's own semantics
# stay pinned against pandas in tests/test_ext.py.
def a2_collect_sorted(spark, sf_dir):
    """A2 — collect_list made deterministic: collect_set → sort → join.

    (`01:185-188`, `02:173`; at 100 TB the raw list is guarded — here we
    aggregate the bounded distinct set.)
    """
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types")
    )


# A3 (the reference's `F.sum(F.lit(1))` counting idiom, `01:393-394`) has
# no entry of its own; the hash-green `u3_tfidf_relational` runs the same
# grouped-count algebra (its TF term is sum(lit(1)) per (doc, token)).


# a8_percentiles is no longer a registered entry; grouped exact
# interpolated-percentile algebra stays driver-evidenced by the
# hash-green `ppl_buckets` (per-group percentile cuts over doc
# perplexity, exact path quantile_cont-replayed) and `w1_topk_desc`
# (grouped order statistics); the exact per-flag quartiles stay pinned
# against numpy.percentile in tests/test_round8_fixes.py, and the bench
# still times it.
def a8_percentiles(spark, sf_dir):
    """A8 — exact interpolated percentiles (engine also exposes
    percentile_approx as the 100 TB-scale variant)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_quantity, 0.90)"), 4).alias("p90"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 sorts / top-k / sampling / TTL window
# ---------------------------------------------------------------------------


# Also value-pinned against pandas in test_round12_fixes.py.
@register(
    "w1_topk_desc",
    sql="""
    SELECT o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders GROUP BY o_custkey
    ORDER BY total_spend DESC, o_custkey LIMIT 10
    """,
)
def w1_topk_desc(spark, sf_dir):
    """W1 + W3 — global sort desc with unique tiebreaker, top-k."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend")
        )
        .orderBy(F.desc("total_spend"), F.asc("o_custkey"))
        .limit(10)
    )


# W2 (global sort asc + limit) has no entry of its own; `w1_topk_desc`
# runs the same TakeOrdered plan (desc primary + asc tiebreaker).


@register(
    "sessionize",
    sql="""
    WITH e AS (
      SELECT event_id, user_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events),
    g AS (
      SELECT event_id, user_id, ts,
             CASE WHEN sec - lag(sec) OVER w IS NULL
                    OR sec - lag(sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS is_start
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts))
    SELECT event_id, user_id,
           CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                AS BIGINT) AS session_id
    FROM g
    """,
)
def sessionize_entry(spark, sf_dir):
    """Gap-based sessionization (operators/sessions.py): lag + running sum
    sharing ONE window partitioning → a single exchange. (user_id, ts) is
    unique in the fixture, so ordering by ts is deterministic; the
    second-granularity gap uses floor semantics on both engines (Spark
    `cast(ts as long)` == DuckDB `floor(epoch(ts))`).

    Streaming/TTL anchor: the reference bounds "current behavior" by a
    7-day TTL (`02_geofraud_fraud.py:281-287`); sessions are the
    fine-grained version of that recency bound.
    """
    from geoscan_fraud_spark.operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, gap_seconds=1800).select("event_id", "user_id", "session_id")


@register(
    "ttl_window_filter",
    sql="""
    WITH cut AS (SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM events)
    SELECT user_id, count(*) AS recent_events
    FROM events, cut WHERE ts >= cutoff GROUP BY user_id
    """,
)
def ttl_window_filter(spark, sf_dir):
    """W5/S9 — the 7-day TTL behavioral window (`02:281-287`) as an
    event-time filter, anchored to max(ts) for determinism."""
    ev = _t(spark, sf_dir, "events")
    cut = ev.select((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff"))
    return (
        ev.crossJoin(F.broadcast(cut))
        .filter(F.col("ts") >= F.col("cutoff"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("recent_events"))
    )


# ---------------------------------------------------------------------------
# §2.7 scalar functions: explode, json, tf-idf, grid index, haversine
# ---------------------------------------------------------------------------


# U4 (explode) is no longer a registered entry; explode+count algebra
# is driver-evidenced by the hash-green `vocab_token_frequencies` (the
# same explode -> groupBy count over documents) and `chunk_documents` /
# `bpe_tokens_to_ids` (posexplode of struct/slice arrays).
def u4_explode_tokens(spark, sf_dir):
    """U4 — explode (`01:189`) on the documents fixture."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "json_extract_props",
    sql="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS cnt
    FROM events GROUP BY k
    """,
)
def json_extract_props(spark, sf_dir):
    """events.props JSON parity (FIXTURES §C)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "u3_tfidf_relational",
    sql="""
    WITH tf AS (
      SELECT user_id, event_type, sum(1) AS tf FROM events GROUP BY user_id, event_type),
    df AS (
      SELECT event_type, sum(1) AS df FROM (
        SELECT DISTINCT user_id, event_type FROM events) GROUP BY event_type),
    n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n FROM events)
    SELECT tf.user_id, tf.event_type,
           ROUND(tf.tf * LN(n.n / df.df), 4) AS tf_idf
    FROM tf JOIN df ON tf.event_type = df.event_type, n
    """,
)
def u3_tfidf_relational(spark, sf_dir):
    """U3 — the tiles TF-IDF pipeline shape (`01:386-422`) on events:
    documents = users, terms = event types. Native expr, no UDF."""
    ev = _t(spark, sf_dir, "events")
    tf = ev.groupBy("user_id", "event_type").agg(F.sum(F.lit(1)).alias("tf"))
    dfreq = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.sum(F.lit(1)).alias("df"))
    )
    n = float(ev.select("user_id").distinct().count())
    return (
        tf.join(F.broadcast(dfreq), "event_type")
        .withColumn("tf_idf", F.round(F.col("tf") * F.log(F.lit(n) / F.col("df")), 4))
        .select("user_id", "event_type", "tf_idf")
    )


#: deterministic synthetic coordinates derived from events.value — IEEE-exact
#: on both engines (only +,-,*,/ and floor involved).
_COORD_SQL = """
      SELECT event_id, user_id,
             40.5 + (value - FLOOR(value / 200.0) * 200.0) / 1000.0 AS latitude,
             -74.3 + (value - FLOOR(value / 157.0) * 157.0) / 800.0 AS longitude
      FROM events
"""


def _events_coords(spark, sf_dir, *extra: str):
    """events → synthetic coordinates; ``extra`` column names (e.g.
    ``"ts"``) are carried through unchanged."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        "user_id",
        (F.lit(40.5) + (v - F.floor(v / 200.0) * 200.0) / 1000.0).alias("latitude"),
        (F.lit(-74.3) + (v - F.floor(v / 157.0) * 157.0) / 800.0).alias("longitude"),
        *extra,
    )


#: U1's standalone oracle, kept as the fold-witness value pin's ground
#: truth (test_round12_fixes.py replays it in DuckDB directly).
U1_ORACLE_SQL = f"""
    WITH pts AS ({_COORD_SQL})
    SELECT event_id,
           printf('%02X%07X%07X', 10,
                  CAST(FLOOR((latitude + 90.0) / {65.907807 / 111320.0!r}) AS BIGINT),
                  CAST(FLOOR((longitude + 180.0) / {65.907807 / 111320.0!r}) AS BIGINT))
             AS h3
    FROM pts
"""


# Also value-pinned by a DuckDB replay in test_round12_fixes.py.
@register("u1_cell_id", sql=U1_ORACLE_SQL)
def u1_cell_id(spark, sf_dir):
    """U1 — the grid index (engine's `to_h3` analog, `utils/spark_utils.py:6-9`).

    Bit-exact oracle: quantization uses only IEEE +,/ and floor, and hex
    formatting matches DuckDB printf."""
    pts = _events_coords(spark, sf_dir)
    return pts.select(
        "event_id", cell_id(F.col("latitude"), F.col("longitude"), 10).alias("h3")
    )


# U7 (native haversine) is no longer a registered entry; the same
# trig expression is load-bearing INSIDE the hash-green
# `geoscan_distributed_fit` golden (epsilon_pairs keeps only pairs with
# haversine < eps — a wrong distance would change the pinned cluster
# assignment).
def u7_haversine(spark, sf_dir):
    """U7 — native haversine (`01:20`), rounded (libm last-ulp tolerance)."""
    pts = _events_coords(spark, sf_dir)
    a, b = pts.alias("a"), pts.alias("b")
    return (
        a.join(b, F.col("b.event_id") == F.col("a.event_id") + 1)
        .select(
            F.col("a.event_id").alias("event_id"),
            F.round(
                haversine_m(
                    F.col("a.latitude"),
                    F.col("a.longitude"),
                    F.col("b.latitude"),
                    F.col("b.longitude"),
                ),
                2,
            ).alias("dist_m"),
        )
    )
