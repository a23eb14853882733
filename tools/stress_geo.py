"""Scale rehearsal: the full geo pipeline at millions of points.

Generates N users x P points spread over a wide area (multi-city density,
not one saturated box), then runs: spatial downsample -> distributed fit
-> tiles -> transform scoring -> personalized fit -> per-user tiles ->
anti-join + bloom scoring, timing each stage. This is the "would the plan
survive a 100x scale-up" drill — the shapes (cell-bucketed pairing,
weighted dedup, two-level hulls, broadcast scoring join) are the ones
that must hold on a 1000-executor cluster.

Usage: python tools/stress_geo.py [n_users] [points_per_user] [ds_res] [ds_cap]

The downsample knobs bound the pairing cost: epsilon-graph edges grow
quadratically with per-cell density, so at higher ingest scale you sample
at a coarser cell / lower cap — exactly the reference's skew answer
(`01:170-198`), applied as capacity planning.
"""

from __future__ import annotations

import os
import sys
import time

# not tools/: its profile.py would shadow the stdlib one pyspark imports
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    n_users = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    ppu = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    ds_res = int(sys.argv[3]) if len(sys.argv) > 3 else 11
    ds_cap = int(sys.argv[4]) if len(sys.argv) > 4 else 10

    from pyspark.sql import functions as F

    from geoscan_fraud_spark import get_spark
    from geoscan_fraud_spark.operators.bloom import score_with_blooms, train_blooms
    from geoscan_fraud_spark.operators.geoscan import Geoscan
    from geoscan_fraud_spark.operators.personalized import GeoscanPersonalized
    from geoscan_fraud_spark.operators.sampling import spatial_downsample
    from geoscan_fraud_spark.operators.scoring import extract_anomalies
    from geoscan_fraud_spark.testing.datagen import make_transactions

    spark = get_spark(app_name="geo-stress")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    pdf = make_transactions(
        n_users=n_users,
        points_per_user=ppu,
        seed=42,
        lat_range=(39.5, 41.5),
        lng_range=(-75.5, -73.5),
    )
    tx = spark.createDataFrame(pdf).repartition(32).persist()
    n = tx.count()
    print(f"generate: {n:,} rows in {time.perf_counter()-t0:.1f}s")

    t0 = time.perf_counter()
    sampled = spatial_downsample(tx, res=ds_res, max_per_cell=ds_cap).persist()
    ns = sampled.count()
    print(
        f"downsample (res {ds_res}, cap {ds_cap}): {ns:,} rows "
        f"in {time.perf_counter()-t0:.1f}s"
    )

    t0 = time.perf_counter()
    model = Geoscan().setEpsilon(200.0).setMinPts(20).fit(sampled)
    k = model.polygons.count()
    print(f"distributed fit: {k} clusters in {time.perf_counter()-t0:.1f}s")

    t0 = time.perf_counter()
    out = model.transform(tx)
    n_null = out.filter(F.col("cluster").isNull()).count()
    print(
        f"transform scoring: {n_null:,} unclustered of {n:,} "
        f"in {time.perf_counter()-t0:.1f}s"
    )

    t0 = time.perf_counter()
    pmodel = (
        GeoscanPersonalized()
        .setEpsilon(150.0)
        .setMinPts(10)
        .setGroupedCol("user")
        .fit(sampled)
    )
    nm = pmodel.models.count()
    print(f"personalized fit: {nm:,} (user, cluster) models in {time.perf_counter()-t0:.1f}s")

    t0 = time.perf_counter()
    ptiles = pmodel.getTiles(10, 2).persist()
    npt = ptiles.count()
    print(f"personalized tiles: {npt:,} in {time.perf_counter()-t0:.1f}s")

    t0 = time.perf_counter()
    anomalies = extract_anomalies(tx, ptiles, res=10)
    na = anomalies.count()
    print(f"anti-join scoring: {na:,} anomalies in {time.perf_counter()-t0:.1f}s")

    t0 = time.perf_counter()
    blooms = train_blooms(ptiles)
    scored = score_with_blooms(tx, blooms, precision=10)
    nb = scored.filter(F.col("anomaly") == 1).count()
    print(f"bloom scoring: {nb:,} flagged in {time.perf_counter()-t0:.1f}s")

    print("OK")


if __name__ == "__main__":
    main()
