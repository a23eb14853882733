"""Property-based checks for GEOSCAN (SURVEY §5.2.3) — no oracle exists for
density clustering, so invariants: core-point degrees, epsilon
connectivity, hull containment, tile monotonicity, determinism."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.functions.dbscan_local import local_dbscan
from geoscan_fraud_spark.functions.geo import haversine_m_np
from geoscan_fraud_spark.functions.hull import geometry_ring, points_in_polygon
from geoscan_fraud_spark.operators.geoscan import Geoscan, GeoscanModel
from geoscan_fraud_spark.operators.personalized import (
    GeoscanPersonalized,
    GeoscanPersonalizedModel,
)
from geoscan_fraud_spark.testing.datagen import make_transactions

EPS = 150.0
MINPTS = 8


@pytest.fixture(scope="module")
def tx(spark):
    pdf = make_transactions(n_users=4, points_per_user=600, seed=42)
    return spark.createDataFrame(pdf), pdf


@pytest.fixture(scope="module")
def model(spark, tx):
    df, _ = tx
    return Geoscan().setEpsilon(EPS).setMinPts(MINPTS).fit(df)


def test_distributed_fit_produces_clusters(model):
    polys = model.polygons.collect()
    assert len(polys) >= 3  # 4 users x 3-5 blobs overlap into >=3 regions
    assert all(r["n_points"] >= 1 for r in polys)


def test_cluster_members_inside_hull(model, tx):
    _, pdf = tx
    labeled = model.transform  # noqa: B018 - just touch API
    for r in model.polygons.collect():
        ring = geometry_ring(r["geometry"])
        # hull vertices must be inside (or on) their own polygon bbox
        assert ring[:, 0].min() >= -180 and ring[:, 0].max() <= 180


def test_core_point_degree_invariant(model, tx):
    """Every clustered (core) point has >= minPts other points within eps."""
    _, pdf = tx
    lat = pdf["latitude"].to_numpy()
    lng = pdf["longitude"].to_numpy()
    labels = local_dbscan(lat, lng, EPS, MINPTS)
    clustered = np.where(labels >= 0)[0]
    # spot-check 50 clustered points
    rng = np.random.default_rng(0)
    for idx in rng.choice(clustered, size=min(50, len(clustered)), replace=False):
        d = haversine_m_np(lat[idx], lng[idx], lat, lng)
        degree = int(((d <= EPS)).sum()) - 1
        assert degree >= MINPTS


def test_distributed_matches_local_on_small_input(spark):
    """Distributed fit and the in-memory kernel agree on cluster count and
    membership for a single-user dataset."""
    pdf = make_transactions(n_users=1, points_per_user=500, seed=7)
    df = spark.createDataFrame(pdf)
    m = Geoscan().setEpsilon(EPS).setMinPts(MINPTS).fit(df)
    n_dist = m.polygons.count()

    labels = local_dbscan(
        pdf["latitude"].to_numpy(), pdf["longitude"].to_numpy(), EPS, MINPTS
    )
    n_local = len({c for c in labels if c >= 0})
    assert n_dist == n_local

    # membership: local core points must land in some tile of the model
    out = m.transform(df).collect()
    pred = [r["cluster"] for r in out]
    core_rate = np.mean([p is not None for p, l in zip(pred, labels) if l >= 0])
    assert core_rate > 0.95  # tile containment covers core points


def test_fit_deterministic_under_partitioning(spark):
    pdf = make_transactions(n_users=2, points_per_user=300, seed=11)
    df1 = spark.createDataFrame(pdf)
    df2 = spark.createDataFrame(pdf.iloc[::-1]).repartition(13)
    m1 = Geoscan().setEpsilon(EPS).setMinPts(MINPTS).fit(df1)
    m2 = Geoscan().setEpsilon(EPS).setMinPts(MINPTS).fit(df2)
    g1 = sorted(r["geometry"] for r in m1.polygons.collect())
    g2 = sorted(r["geometry"] for r in m2.polygons.collect())
    assert g1 == g2


def test_geojson_output(model):
    fc = json.loads(model.toGeoJson())
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) == model.polygons.count()
    f0 = fc["features"][0]
    assert f0["geometry"]["type"] == "Polygon"
    assert "id" in f0


def test_model_save_load_library_free(model, spark, tmp_path):
    path = str(tmp_path / "geoscan_model")
    model.save(path)
    # library-free readability (the `02:29` contract)
    raw = spark.read.parquet(path + "/data")
    assert set(raw.columns) == {"cluster", "geometry", "n_points"}
    m2 = GeoscanModel.load(spark, path)
    assert m2.epsilon == EPS
    assert m2.polygons.count() == model.polygons.count()


def test_model_with_saved_pairing_res_still_loads(model, spark, tmp_path):
    """A params.json written while `pairingRes` was a settable option still
    loads: the retired key is ignored and the model keeps its params and
    polygons."""
    path = str(tmp_path / "geoscan_model_pairing")
    model.save(path)
    meta = tmp_path / "geoscan_model_pairing" / "metadata" / "params.json"
    params = json.loads(meta.read_text())
    assert "pairingRes" not in params
    meta.write_text(json.dumps({**params, "pairingRes": 9}))
    m2 = GeoscanModel.load(spark, path)
    assert not hasattr(m2, "pairingRes")
    assert m2.params_dict() == model.params_dict()
    assert m2.polygons.count() == model.polygons.count()


def test_transform_null_for_far_points(model, spark):
    far = spark.createDataFrame(
        [(10.0, 10.0, 1.0, "u")], ["latitude", "longitude", "amount", "user"]
    )
    row = model.transform(far).collect()[0]
    assert row["cluster"] is None


# -- personalized ----------------------------------------------------------


@pytest.fixture(scope="module")
def pmodel(spark, tx):
    df, _ = tx
    return (
        GeoscanPersonalized()
        .setEpsilon(100.0)
        .setMinPts(3)
        .setGroupedCol("user")
        .fit(df)
    )


def test_personalized_models_per_user(pmodel, tx):
    _, pdf = tx
    users = set(pdf["user"])
    model_users = {r["user"] for r in pmodel.models.select("user").distinct().collect()}
    assert model_users == users


def test_personalized_geojson_one_row_per_user(pmodel, tx):
    _, pdf = tx
    gj = pmodel.toGeoJson().collect()
    assert len(gj) == len(set(pdf["user"]))
    fc = json.loads(gj[0]["cluster"])
    assert fc["type"] == "FeatureCollection"


def test_tiles_monotone_in_layers(pmodel):
    t0 = {(r["user"], r["h3"]) for r in pmodel.getTiles(10, 0).collect()}
    t2 = {(r["user"], r["h3"]) for r in pmodel.getTiles(10, 2).collect()}
    assert t0 < t2  # strictly more tiles with relaxation


def test_personalized_transform_assigns_training_clusters(pmodel, tx):
    df, _ = tx
    out = pmodel.transform(df)
    n_assigned = out.filter(F.col("cluster").isNotNull()).count()
    n_total = out.count()
    assert n_assigned / n_total > 0.8  # most points sit in their own clusters


def test_personalized_save_load(pmodel, spark, tmp_path):
    path = str(tmp_path / "pmodel")
    pmodel.save(path)
    m2 = GeoscanPersonalizedModel.load(spark, path)
    assert m2.groupedCol == "user"
    assert m2.models.count() == pmodel.models.count()


def test_hull_contains_cluster_points(pmodel, tx):
    _, pdf = tx
    models = {
        (r["user"], r["cluster"]): r["geometry"] for r in pmodel.models.collect()
    }
    # check containment per user via local labels
    for user in list(set(pdf["user"]))[:2]:
        sub = pdf[pdf["user"] == user]
        lat, lng = sub["latitude"].to_numpy(), sub["longitude"].to_numpy()
        labels = local_dbscan(lat, lng, 100.0, 3)
        for cid in sorted({c for c in labels if c >= 0}):
            ring = geometry_ring(models[(user, cid)])
            mask = labels == cid
            # hull vertices sit ON the boundary (for a 3-point cluster ALL
            # members are vertices) and ray casting counts boundary as
            # outside — buffer the ring outward by ~1e-7 deg around its
            # centroid before testing containment
            centroid = ring.mean(axis=0)
            buffered = centroid + (ring - centroid) * (1 + 1e-6)
            inside = points_in_polygon(lng[mask], lat[mask], buffered)
            assert inside.all(), (user, cid, inside.mean())
