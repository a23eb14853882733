"""GEOSCAN personalized — one model per group, trained in parallel.

Reference M6-M10 (`01_geofraud_clustering.py:266-316`, `01:344`,
`01:364-365`): "no longer returning a unique model but a collection of
GeoJson objects", "millions of models trained in parallel". Each group's
points fit one worker, so the engine runs the in-memory DBSCAN kernel
(`functions/dbscan_local.py`) inside `groupBy(group).applyInPandas` —
the "pseudo distributed" mode of `01:266`.

Skew guard (100 TB): one mega-user can blow a pandas group; apply
`operators.sampling.spatial_downsample` before fit — the reference's own
answer to skew (`01:170-198`, "dropped our skew by 80%").

The fitted model IS a DataFrame (user, cluster, geometry, n_points); fit
materializes it behind persist+count — the reference warns its lazy model
is "re-evaluated to subsequent actions" and recommends exactly this
barrier (`01:292`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from geoscan_fraud_spark.functions.dbscan_local import local_dbscan
from geoscan_fraud_spark.functions.hull import (
    convex_hull,
    feature,
    feature_collection,
    polygon_geometry,
)
from geoscan_fraud_spark.operators.geoscan import _Params, _TileModel
from geoscan_fraud_spark.operators.sampling import spatial_downsample

#: Grid resolution for the per-group skew cap — the reference's own
#: choice: res-11 ~30 m cells (`01:170-198`, "dropped our skew by 80%"),
#: fine relative to any epsilon >= ~60 m so capping cannot merge or
#: split clusters, only thin their interiors.
_DOWNSAMPLE_RES = 11


class GeoscanPersonalized(_Params):
    """Per-group estimator (`GeoscanPersonalized()`, `01:275-281`).

    ``maxPointsPerCell`` (optional): cap points per (group, ~30 m cell)
    with the seeded spatial sampler before fitting — the skew guard for
    the 100 TB case where one mega-group would otherwise land a single
    unbounded pandas group in `applyInPandas` (SURVEY §7.3 risk; the
    reference's own mitigation, `01:170-198`). DBSCAN's density test is
    per-neighborhood, so thinning cells to ``maxPointsPerCell >= minPts``
    preserves cluster structure while bounding every group's row count by
    cap x cells-visited.
    """

    def __init__(self):
        super().__init__()
        self.groupedCol = "user"
        self.epsilon = 100.0
        self.minPts = 3
        self.maxPointsPerCell = None

    def setGroupedCol(self, v):
        self.groupedCol = v
        return self

    def setMaxPointsPerCell(self, v):
        self.maxPointsPerCell = None if v is None else int(v)
        return self

    def params_dict(self) -> dict:
        return {
            **super().params_dict(),
            "groupedCol": self.groupedCol,
            "maxPointsPerCell": self.maxPointsPerCell,
        }

    def fit(self, df: DataFrame) -> "GeoscanPersonalizedModel":
        lat, lng, grp = self.latitudeCol, self.longitudeCol, self.groupedCol
        eps, minp = self.epsilon, self.minPts
        if self.maxPointsPerCell is not None:
            # cap BEFORE the groupBy so the shuffle already carries the
            # thinned rows; the window key (group, cell) is high-
            # cardinality, so the cap itself cannot hot-spot
            df = spatial_downsample(
                df.select(grp, lat, lng),
                lat_col=lat,
                lng_col=lng,
                res=_DOWNSAMPLE_RES,
                max_per_cell=self.maxPointsPerCell,
                extra_keys=[grp],
            )
        grp_field = df.schema[grp]
        out_schema = T.StructType(
            [
                T.StructField(grp, grp_field.dataType),
                T.StructField("cluster", T.LongType()),
                T.StructField("geometry", T.StringType()),
                T.StructField("n_points", T.LongType()),
            ]
        )

        def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
            labels = local_dbscan(
                pdf[lat].to_numpy(), pdf[lng].to_numpy(), eps, minp
            )
            rows = []
            for cid in sorted({int(c) for c in labels if c >= 0}):
                mask = labels == cid
                pts = list(
                    zip(pdf[lng].to_numpy()[mask], pdf[lat].to_numpy()[mask])
                )
                rows.append(
                    {
                        grp: pdf[grp].iloc[0],
                        "cluster": cid,
                        "geometry": polygon_geometry(convex_hull(pts)),
                        "n_points": int(mask.sum()),
                    }
                )
            if not rows:
                return pd.DataFrame({c.name: [] for c in out_schema})
            return pd.DataFrame(rows)

        models = df.select(grp, lat, lng).groupBy(grp).applyInPandas(
            fit_group, out_schema
        )
        models = models.persist()
        models.count()  # eager barrier (`01:292`)
        return GeoscanPersonalizedModel(models, self.params_dict())


class GeoscanPersonalizedModel(_TileModel):
    """A DataFrame of models: one polygon row per (group, cluster) (M7-M10)."""

    groupedCol = "user"

    @property
    def models(self) -> DataFrame:
        return self._shapes

    def _group_cols(self) -> list[str]:
        return [self.groupedCol]

    def params_dict(self) -> dict:
        return {**super().params_dict(), "groupedCol": self.groupedCol}

    def toGeoJson(self) -> DataFrame:
        """DataFrame[group, cluster: GeoJSON FeatureCollection string] —
        one row per group (`01:315-316`, `01:328`)."""
        grp = self.groupedCol

        def to_fc(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("cluster")
            feats = [
                feature(int(r.cluster), r.geometry, {"n_points": int(r.n_points)})
                for r in pdf.itertuples()
            ]
            return pd.DataFrame(
                {grp: [pdf[grp].iloc[0]], "cluster": [feature_collection(feats)]}
            )

        grp_field = self.models.schema[grp]
        schema = T.StructType(
            [
                T.StructField(grp, grp_field.dataType),
                T.StructField("cluster", T.StringType()),
            ]
        )
        return self.models.groupBy(grp).applyInPandas(to_fc, schema)
