"""Connected-components operator: correctness on adversarial graph shapes."""

from pyspark.sql import functions as F

from geoscan_fraud_spark.operators import components
from geoscan_fraud_spark.operators.components import connected_components


def test_chain_graph_converges(spark):
    """A 2,000-node path graph — worst case for plain label propagation
    (diameter 2,000); pointer jumping must converge within max_iter."""
    n = 2000
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    cc = connected_components(edges, max_iter=30)
    comps = cc.select("component").distinct().collect()
    assert len(comps) == 1
    assert comps[0]["component"] == 0
    assert cc.count() == n


def test_many_small_components(spark):
    """1,000 disjoint triangles -> 1,000 components, each labeled by min id."""
    tri = []
    for k in range(1000):
        base = k * 10
        tri += [(base, base + 1), (base + 1, base + 2), (base + 2, base)]
    edges = spark.createDataFrame(tri, ["src", "dst"])
    cc = connected_components(edges)
    assert cc.select("component").distinct().count() == 1000
    # every component labeled by its minimum vertex
    bad = (
        cc.groupBy("component")
        .agg(F.min("id").alias("m"))
        .filter(F.col("m") != F.col("component"))
        .count()
    )
    assert bad == 0


def test_self_loops_and_duplicates(spark):
    edges = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2), (5, 6)], ["src", "dst"]
    )
    cc = connected_components(edges)
    got = {r["id"]: r["component"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 5: 5, 6: 5}


def test_small_graph_path_equals_iterative(spark, monkeypatch):
    """The driver union-find fast path and the distributed iterative
    path must produce IDENTICAL (id, component) labelings."""
    import random

    rng = random.Random(7)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(300)
    ] + [(500 + i, 500 + i + 1) for i in range(50)]  # plus a long chain
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {
        (r["id"], r["component"])
        for r in connected_components(df).collect()
    }
    monkeypatch.setattr(components, "DRIVER_MAX_ROWS", 0)
    slow = {
        (r["id"], r["component"])
        for r in connected_components(df).collect()
    }
    assert fast == slow and len(fast) > 0
    # labels are component minima on both paths
    comp_min = {}
    for i, c in fast:
        comp_min.setdefault(c, set()).add(i)
    for c, members in comp_min.items():
        assert c == min(members | {c})


def test_collect_small_one_action_exact_split(spark, monkeypatch):
    """`collect_small` returns one pandas frame per input, int64 ids
    near ±2^63 exact and an empty input empty, in exactly one Spark
    job; with the bound patched below the row count it returns None."""
    top, bottom = 2**63 - 1, -(2**63)
    a = spark.range(3).select(
        (F.lit(top) - F.col("id")).alias("x"), F.col("id").alias("y")
    )
    b = spark.range(2).select(
        (F.lit(bottom) + F.col("id")).alias("x"), (F.col("id") + 10).alias("y")
    )
    empty = a.filter(F.col("y") < 0)
    sc = spark.sparkContext
    sc.setJobGroup("collect_small_jobs", "collect_small")
    try:
        got = components.collect_small(a, b, empty)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("collect_small_jobs")
    assert len(jobs) == 1, jobs
    pa, pb, pe = got
    assert sorted(pa["x"].tolist()) == [top - 2, top - 1, top]
    assert sorted(pb["x"].tolist()) == [bottom, bottom + 1]
    assert sorted(pb["y"].tolist()) == [10, 11]
    assert list(pe.columns) == ["x", "y"] and len(pe) == 0

    monkeypatch.setattr(components, "DRIVER_MAX_ROWS", 1)
    assert components.collect_small(a, b) is None
