"""GEOSCAN distributed — H3-analog-gridded density clustering, Spark-first.

Re-implements the algorithm the reference describes in prose
(`01_geofraud_clustering.py:18-32`) and exercises through the
`databrickslabs/geoscan` API (`01:117-134`, `01:254-260`):

1. bucket points by grid cell + epsilon ring so only co-located pairs are
   distance-tested (the "ignoring 99.99% of the dataset" trick, `01:20-24`)
   — expressed as explode(ring cells) + equi-join + native haversine
   post-filter; Catalyst plans the join, AQE splits skewed cells;
2. degree test: core points have >= minPts other points within epsilon
   (`01:28`); duplicates are pre-aggregated into per-coordinate weights so
   the pairing shuffle moves distinct coordinates, not raw rows;
3. connected components over core-core epsilon edges (DataFrame label
   propagation, `operators/components.py` — no GraphX);
4. convex hull per component (`01:30-32`) via applyInPandas.

Steps 2-4 run on the driver when the graph is small: one
`components.collect_small` action fetches the pairs and the distinct
points (at most `components.DRIVER_MAX_ROWS` rows), and numpy does the
degree, the core filter, the min-label union-find, the cluster ranks and
the hulls, with the same results as the distributed path. Each of those
steps is a scheduled Spark job or more on the distributed path, and at
interactive sizes the job count, not the data, sets the fit's latency.

API parity with `Geoscan()` (M1-M5 of SURVEY §2.8): builder setters,
fit/transform/save/load, toGeoJson, getTiles. Models are plain DataFrames
over parquet — readable without this library, the property the reference
itself relies on (`02_geofraud_fraud.py:29`).
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoscan_fraud_spark.functions.geo import haversine_m
from geoscan_fraud_spark.functions.grid import (
    RES_EDGE_M,
    cell_id,
    lng_ring_count,
    res_for_epsilon,
    ring_cells,
)
from geoscan_fraud_spark.functions.hull import (
    convex_hull,
    feature,
    feature_collection,
    polygon_geometry,
)
from geoscan_fraud_spark.functions.polyfill import polyfill
from geoscan_fraud_spark.operators import components
from geoscan_fraud_spark.operators.components import connected_components

POLYGON_SCHEMA = "cluster long, geometry string, n_points long"


class _Params:
    """Shared builder-style params (reference `01:122-127`, `01:275-281`)."""

    def __init__(self):
        self.latitudeCol = "latitude"
        self.longitudeCol = "longitude"
        self.predictionCol = "cluster"
        self.epsilon = 200.0  # meters
        self.minPts = 20
        self.tilePrecision = 10
        self.tileLayers = 0

    def setLatitudeCol(self, v):
        self.latitudeCol = v
        return self

    def setLongitudeCol(self, v):
        self.longitudeCol = v
        return self

    def setPredictionCol(self, v):
        self.predictionCol = v
        return self

    def setEpsilon(self, v):
        self.epsilon = float(v)
        return self

    def setMinPts(self, v):
        self.minPts = int(v)
        return self

    def setTilePrecision(self, v):
        self.tilePrecision = int(v)
        return self

    def setTileLayers(self, v):
        self.tileLayers = int(v)
        return self

    def params_dict(self) -> dict:
        return {
            "latitudeCol": self.latitudeCol,
            "longitudeCol": self.longitudeCol,
            "predictionCol": self.predictionCol,
            "epsilon": self.epsilon,
            "minPts": self.minPts,
            "tilePrecision": self.tilePrecision,
            "tileLayers": self.tileLayers,
        }

    def _load_params(self, d: dict):
        for k, v in d.items():
            if hasattr(self, k) and k != "class":
                setattr(self, k, v)


def _hull_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pts = list(zip(pdf["lng"].tolist(), pdf["lat"].tolist()))
    geom = polygon_geometry(convex_hull(pts))
    return pd.DataFrame(
        {
            "cluster": [int(pdf["cluster"].iloc[0])],
            "geometry": [geom],
            "n_points": [int(pdf["w"].sum()) if "w" in pdf else len(pdf)],
        }
    )


def _partial_hull_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """First hull level: reduce one (cluster, coarse-cell) group to its
    hull vertices + the group's point weight. hull(hulls) == hull(points),
    so the second level sees only O(vertices) rows per cell — a giant
    cluster never materializes in one pandas group."""
    pts = list(zip(pdf["lng"].tolist(), pdf["lat"].tolist()))
    hull = convex_hull(pts, pad_degenerate=False)
    n = len(hull)
    return pd.DataFrame(
        {
            "cluster": [int(pdf["cluster"].iloc[0])] * n,
            "lng": [p[0] for p in hull],
            "lat": [p[1] for p in hull],
            "w": [float(pdf["w"].sum())] + [0.0] * (n - 1),
        }
    )


def epsilon_pairs(
    pts: DataFrame, epsilon_m: float, res: int | None = None
) -> DataFrame:
    """Ordered candidate pairs within epsilon — the cell-bucketed spatial
    join (SURVEY §2.3 J4). ``pts`` must have (id, lat, lng, w).

    Returns (id_a, lat_a, lng_a, w_a, id_b, w_b, dist_m), each ordered pair
    (a, b) exactly once: a's ring covers every cell within epsilon, and b
    is keyed by its home cell.
    """
    res = res if res is not None else res_for_epsilon(epsilon_m)
    # latitude ring count is static (latitude degrees are constant): with
    # the default resolution (cell edge >= epsilon) this is 1; a finer
    # `res` override trades a wider ring for smaller cells — fewer
    # false-candidate pairs in dense data — and stays COMPLETE because
    # k_lat cells always cover epsilon meters of latitude
    k_lat = max(1, math.ceil(epsilon_m / RES_EDGE_M[res]))
    ring = pts.select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lng").alias("lng_a"),
        F.col("w").alias("w_a"),
        F.explode(
            ring_cells(
                F.col("lat"),
                F.col("lng"),
                res,
                k_lat,
                lng_ring_count(F.col("lat"), res, epsilon_m),
            )
        ).alias("cell"),
    )
    home = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lng").alias("lng_b"),
        F.col("w").alias("w_b"),
        cell_id(F.col("lat"), F.col("lng"), res).alias("cell"),
    )
    return (
        ring.join(home, "cell")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn(
            "dist_m",
            haversine_m(
                F.col("lat_a"), F.col("lng_a"), F.col("lat_b"), F.col("lng_b")
            ),
        )
        .filter(F.col("dist_m") <= F.lit(float(epsilon_m)))
        .drop("cell", "lat_b", "lng_b")
    )


def _fit_on_driver(
    pts: DataFrame, pairs: DataFrame, min_pts: int
) -> DataFrame | None:
    """Steps 2-4 of the fit on the driver, or None when the pairs plus
    the points do not fit `components.collect_small`.

    ONE action fetches both relations: each point as an (id, id, w,
    lat, lng) row, each ordered pair as (id_a, id_b, w_b, 0, 0). The
    polygons equal the distributed path's row for row: same integer
    degree, same min-label components (shared union-find), ranks
    ordered by the component's minimum id, and one hull per cluster
    over its core points (hull(hulls) == hull(points), so the two-level
    reduction gives the same polygon)."""
    small = components.collect_small(
        pts.select(
            F.col("id").alias("id_a"), F.col("id").alias("id_b"), "w", "lat", "lng"
        ),
        pairs.select(
            "id_a",
            "id_b",
            F.col("w_b").alias("w"),
            F.lit(0.0).alias("lat"),
            F.lit(0.0).alias("lng"),
        ),
    )
    if small is None:
        return None
    point_rows, pair_rows = small
    # np.unique sorts, so an index order is also an id order
    ids, first = np.unique(point_rows["id_a"].to_numpy(), return_index=True)
    w = point_rows["w"].to_numpy()[first]
    lat = point_rows["lat"].to_numpy()[first]
    lng = point_rows["lng"].to_numpy()[first]
    id_a = pair_rows["id_a"].to_numpy()
    id_b = pair_rows["id_b"].to_numpy()
    a = np.searchsorted(ids, id_a)
    b = np.searchsorted(ids, id_b)

    nbr_w = np.zeros(len(ids), dtype=np.int64)
    np.add.at(nbr_w, a, pair_rows["w"].to_numpy())
    core = nbr_w + w - 1 >= min_pts
    # core-core edges, one direction of each undirected pair
    edge = (id_a < id_b) & core[a] & core[b]
    pos = np.cumsum(core) - 1  # index among the (sorted) core points
    roots = components._min_label_union_find(
        pos[a[edge]], pos[b[edge]], int(core.sum())
    )
    # dense ranks by component minimum id == row_number() over the
    # sorted distinct components
    _, cluster = np.unique(roots, return_inverse=True)

    core_pts = pd.DataFrame({"lng": lng[core], "lat": lat[core], "w": w[core]})
    geoms, n_points = [], []
    for _, g in core_pts.groupby(cluster, sort=True):
        hull = convex_hull(list(zip(g["lng"].tolist(), g["lat"].tolist())))
        geoms.append(polygon_geometry(hull))
        n_points.append(int(g["w"].sum()))
    pdf = pd.DataFrame(
        {
            "cluster": np.arange(len(geoms), dtype=np.int64),
            "geometry": pd.Series(geoms, dtype=object),
            "n_points": np.asarray(n_points, dtype=np.int64),
        }
    )
    # a pandas frame crosses as Arrow batches; a list of tuples would
    # start a Python worker to serialize the rows
    return pts.sparkSession.createDataFrame(pdf, POLYGON_SCHEMA)


class Geoscan(_Params):
    """Distributed estimator (`Geoscan()` of the reference, M1-M2)."""

    def fit(self, df: DataFrame) -> "GeoscanModel":
        eps, minp = self.epsilon, self.minPts
        pts = (
            df.select(
                F.col(self.latitudeCol).cast("double").alias("lat"),
                F.col(self.longitudeCol).cast("double").alias("lng"),
            )
            # pre-aggregate exact-duplicate coordinates into weights: the
            # pairing shuffle then moves distinct locations, not raw rows
            # (transactions repeat merchant coordinates heavily)
            .groupBy("lat", "lng")
            .agg(F.count(F.lit(1)).alias("w"))
            # 64-bit coordinate hash as vertex id: deterministic across
            # runs/partitionings (collision odds ~n^2/2^64, negligible)
            .withColumn("id", F.xxhash64("lat", "lng"))
        )
        pts = pts.persist()

        # pick the pairing resolution: measure cell density at the
        # default resolution and go one step finer when the data is dense
        # (>= 16 distinct coordinates per cell). Candidate pairs grow
        # quadratically with per-cell density while the finer ring only
        # explodes ~2x more cells per point, so dense workloads win big
        # (measured 222s -> 145s on an 878k-point fit, identical output —
        # pairing is complete at any resolution up to the same |lat| ~
        # 86.4 deg truncation point, since the longitude ring cap scales
        # with epsilon/edge(res)); sparse data keeps the coarse default.
        # One approx-distinct pass over the (persisted) deduped
        # coordinates is noise next to the join.
        pairing_res = res_for_epsilon(eps)
        if pairing_res + 1 in RES_EDGE_M:
            stats = pts.agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct(
                    cell_id(F.col("lat"), F.col("lng"), pairing_res)
                ).alias("c"),
            ).first()
            if stats["n"] / max(stats["c"], 1) >= 16:
                pairing_res += 1

        # pairs feed the driver probe, and on the distributed path BOTH the
        # degree aggregate and the core-core edge list; without a persist
        # the ring-explode + haversine join runs more than once
        pairs = (
            epsilon_pairs(pts, eps, res=pairing_res)
            .select("id_a", "id_b", "w_b")
            .persist()
        )
        polygons = _fit_on_driver(pts, pairs, minp)
        if polygons is not None:
            pts.unpersist()
            pairs.unpersist()
            return GeoscanModel(polygons, self.params_dict())
        degree = pairs.groupBy("id_a").agg(F.sum("w_b").alias("nbr_w"))
        core = (
            pts.join(degree, pts.id == degree.id_a, "left_outer")
            .select(
                "id",
                "lat",
                "lng",
                "w",
                (F.coalesce(F.col("nbr_w"), F.lit(0)) + F.col("w") - 1).alias(
                    "degree"
                ),
            )
            .filter(F.col("degree") >= F.lit(minp))
            .persist()
        )

        core_ids = core.select("id")
        # undirected: each pair appears twice in `pairs` (ordered); keep one
        # direction — halves the edge list the CC iteration materializes
        edges = (
            pairs.select("id_a", "id_b")
            .filter(F.col("id_a") < F.col("id_b"))
            .join(core_ids.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
            .join(core_ids.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
        )
        cc = connected_components(edges, "id_a", "id_b")

        labeled = core.join(cc, "id", "left_outer").withColumn(
            "component", F.coalesce(F.col("component"), F.col("id"))
        )
        # dense, deterministic cluster ids (component = min vertex hash)
        ranks = (
            labeled.select("component")
            .distinct()
            .withColumn(
                "cluster",
                F.row_number().over(Window.orderBy("component")) - 1,
            )
        )
        clustered = labeled.join(F.broadcast(ranks), "component").select(
            "cluster", "lat", "lng", "w"
        )
        # two-level hull: reduce per (cluster, coarse cell) to hull vertices
        # first — hull(hulls) == hull(points) — so a cluster of any size
        # reaches the final per-cluster group as O(cells x vertices) rows,
        # never as its full point set
        coarse_res = max(0, res_for_epsilon(eps) - 2)
        partial = clustered.withColumn(
            "__cc", cell_id(F.col("lat"), F.col("lng"), coarse_res)
        ).groupBy("cluster", "__cc").applyInPandas(
            _partial_hull_group, "cluster long, lng double, lat double, w double"
        )
        polygons = (
            partial.groupBy("cluster")
            .applyInPandas(_hull_group, POLYGON_SCHEMA)
            .persist()
        )
        polygons.count()  # materialization barrier (cf. lazy models, `01:292`)
        pts.unpersist()
        pairs.unpersist()
        core.unpersist()
        return GeoscanModel(polygons, self.params_dict())


def _tiles_map_factory(precision: int, layers: int, key_cols: list[str]):
    def tiles_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in key_cols}
            out["h3"] = []
            for _, row in pdf.iterrows():
                cells = polyfill(row["geometry"], precision, layers)
                for c in key_cols:
                    out[c].extend([row[c]] * len(cells))
                out["h3"].extend(cells)
            yield pd.DataFrame(out)

    return tiles_map


class _TileModel(_Params):
    """The serving half both fitted models share: polygon rows keyed by
    ``_group_cols()`` + cluster, plus params. The distributed model has no
    group columns; the personalized one is keyed by ``groupedCol``.
    `getTiles`, `transform`, `save` and `load` are one implementation over
    that key; `toGeoJson` differs per model (a string vs a DataFrame)."""

    def __init__(self, shapes: DataFrame, params: dict | None = None):
        super().__init__()
        if params:
            self._load_params(params)
        self._shapes = shapes
        self._tiles_cache: dict[tuple[int, int], DataFrame] = {}

    def _group_cols(self) -> list[str]:
        return []

    def getTiles(self, precision: int | None = None, layers: int | None = None) -> DataFrame:
        """(group cols..., cluster, h3) covering tiles — `getTiles(precision,
        layers)` parity (`01:364-365`), the engine's central serving table.
        Map-only: no shuffle; ``layers`` rings of spill-over relaxation per
        `01:360-364`.

        Caching: the 2 most recently requested (precision, layers) keys
        stay persisted (2, not 1, so alternating between two precisions —
        e.g. transform's tilePrecision vs an exploratory one — doesn't
        thrash persist/unpersist). Requesting a third key unpersists the
        oldest; DataFrames previously returned for that key remain
        CORRECT (lineage recomputes the polyfill) but lose their cache.
        """
        precision = self.tilePrecision if precision is None else precision
        layers = self.tileLayers if layers is None else layers
        key = (precision, layers)
        if key in self._tiles_cache:
            # refresh recency (dict preserves insertion order)
            self._tiles_cache[key] = self._tiles_cache.pop(key)
        else:
            while len(self._tiles_cache) >= 2:
                oldest = next(iter(self._tiles_cache))
                self._tiles_cache.pop(oldest).unpersist()
            keys = self._group_cols() + ["cluster"]
            schema = ", ".join(
                f"{c} {self._shapes.schema[c].dataType.simpleString()}" for c in keys
            )
            tiles = self._shapes.mapInPandas(
                _tiles_map_factory(precision, layers, keys), f"{schema}, h3 string"
            )
            self._tiles_cache[key] = tiles.persist()
        return self._tiles_cache[key]

    def unpersistTiles(self) -> None:
        """Release all persisted tile DataFrames held by `getTiles`."""
        for cached in self._tiles_cache.values():
            cached.unpersist()
        self._tiles_cache.clear()

    def transform(self, df: DataFrame) -> DataFrame:
        """Assign nullable cluster ids by (group cols..., h3) tile
        containment, not point-in-polygon — exactly the reference's
        inference trick (`01:208-210`, `01:344`, `02:36`); unmatched rows
        keep a NULL cluster (`01:227`).

        The tile side is model-proportional (clusters x polyfill cells),
        which is usually broadcast-sized — but a continental model at
        precision 10 can exceed broadcast range, so no hint is forced:
        static planning / AQE picks the broadcast hash join whenever the
        tile relation fits (`spark.sql.autoBroadcastJoinThreshold`), which
        keeps the zero-input-shuffle plan at test scale without pinning it
        at any scale."""
        group = self._group_cols()
        tiles = (
            self.getTiles(self.tilePrecision, self.tileLayers)
            .groupBy(*group, "h3")
            .agg(F.min("cluster").alias(self.predictionCol))
        )
        pts = df.withColumn(
            "__h3",
            cell_id(
                F.col(self.latitudeCol).cast("double"),
                F.col(self.longitudeCol).cast("double"),
                self.tilePrecision,
            ),
        )
        return (
            pts.join(
                tiles.withColumnRenamed("h3", "__h3"),
                [*group, "__h3"],
                "left_outer",
            )
            .drop("__h3")
        )

    def save(self, path: str) -> None:
        """parquet under path/data — library-free readable, the exact
        property `02_geofraud_fraud.py:29` depends on."""
        self._shapes.write.mode("overwrite").parquet(os.path.join(path, "data"))
        meta_dir = os.path.join(path, "metadata")
        os.makedirs(meta_dir, exist_ok=True)
        from geoscan_fraud_spark.sources.io import atomic_write_json

        atomic_write_json(
            os.path.join(meta_dir, "params.json"),
            {"class": type(self).__name__, **self.params_dict()},
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str):
        with open(os.path.join(path, "metadata", "params.json")) as f:
            params = json.load(f)
        return cls(spark.read.parquet(os.path.join(path, "data")), params)


class GeoscanModel(_TileModel):
    """Fitted distributed model: a polygons DataFrame + params (M3-M5).

    `polygons`: (cluster, geometry GeoJSON-string, n_points) — plain
    parquet on save, readable library-free.
    """

    @property
    def polygons(self) -> DataFrame:
        return self._shapes

    def toGeoJson(self) -> str:
        """RFC 7946 FeatureCollection; cluster id = feature.id (`01:143`,
        choropleth keying `01:466-467`)."""
        rows = self.polygons.orderBy("cluster").collect()
        feats = [
            feature(r["cluster"], r["geometry"], {"n_points": r["n_points"]})
            for r in rows
        ]
        return feature_collection(feats)
