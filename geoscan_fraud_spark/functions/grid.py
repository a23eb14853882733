"""Deterministic geospatial grid index — the engine's H3 analog.

The reference indexes points with `h3.geo_to_h3(lat, lng, res).upper()`
(reference `utils/spark_utils.py:6-9`) and leans on three properties
(reference `01_geofraud_clustering.py:18-32`, `02_geofraud_fraud.py:36`):

1. deterministic, *consistent* cell ids between training and scoring,
2. a resolution ladder with known edge lengths (res 9 ~ 150 m, res 10
   tiles, res 11 ~ 30 m),
3. cheap k-ring neighbor expansion for epsilon-bucketed spatial joins.

No `h3` package is available, so the engine ships its own quantized
lat/lng grid with an H3-calibrated resolution ladder. Ids are NOT
H3-compatible (documented engine-native ids); the *capability* — a
consistent, ring-expandable cell id — is what the workload needs.

Everything here is a **native Spark column expression** (floor/hex/concat,
higher-order array functions): the hot path never leaves the JVM, unlike
the reference's row-at-a-time Python UDF. A numpy mirror
(`cell_ij_np` / `cell_id_np`) backs the pandas-side code paths (hulls,
polygon fill, serving scorer) with bit-identical quantization.

Cell id layout: 16 uppercase hex chars = resolution (2) | i (7) | j (7)
where i = floor((lat+90)/step), j = floor((lng+180)/step) and
step (degrees) = edge_m[res] / 111320.  Fixed degree steps keep ids
global and ring math trivial; longitude cell *width in meters* shrinks
with latitude, which the epsilon-join compensates for with a
latitude-aware ring count (`lng_ring_count`).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# H3 average hex edge length (meters) per resolution — public Uber H3 docs.
# Used only to calibrate our square-grid step so the reference's resolution
# numbers (9/10/11) keep their intended physical meaning.
RES_EDGE_M: dict[int, float] = {
    0: 1107712.591,
    1: 418676.0055,
    2: 158244.6558,
    3: 59810.85794,
    4: 22606.3794,
    5: 8544.408276,
    6: 3229.482772,
    7: 1220.629759,
    8: 461.354684,
    9: 174.375668,
    10: 65.907807,
    11: 24.910561,
    12: 9.415526,
    13: 3.559893,
    14: 1.348575,
    15: 0.509713,
}

#: meters per degree of latitude (and of longitude at the equator)
M_PER_DEG = 111320.0


def step_deg(res: int) -> float:
    """Grid step in degrees for a resolution."""
    return RES_EDGE_M[res] / M_PER_DEG


def res_for_epsilon(epsilon_m: float) -> int:
    """Finest resolution whose cell edge is >= epsilon.

    With this choice, any two points within ``epsilon_m`` of each other are
    at most 1 cell apart in latitude, so a 1-ring (latitude) expansion is
    sufficient; longitude may need more rings at high latitude
    (`lng_ring_count`).
    """
    for res in sorted(RES_EDGE_M, reverse=True):
        if RES_EDGE_M[res] >= epsilon_m:
            return res
    return 0


# ---------------------------------------------------------------------------
# Native Spark expressions
# ---------------------------------------------------------------------------


def cell_ij(lat: Column, lng: Column, res: int) -> tuple[Column, Column]:
    """(i, j) long grid indices — pure JVM arithmetic."""
    s = step_deg(res)
    i = F.floor((lat + F.lit(90.0)) / F.lit(s)).cast("long")
    j = F.floor((lng + F.lit(180.0)) / F.lit(s)).cast("long")
    return i, j


def cell_id_from_ij(i: Column, j: Column, res: int) -> Column:
    """Format (i, j, res) as the 16-char uppercase hex cell id."""
    return F.concat(
        F.lit(format(res, "02X")),
        F.lpad(F.hex(i), 7, "0"),
        F.lpad(F.hex(j), 7, "0"),
    )


def cell_id(lat: Column, lng: Column, res: int) -> Column:
    """Engine equivalent of the reference's `to_h3` UDF — native, no UDF.

    Reference: `utils/spark_utils.py:6-9`; call sites
    `01_geofraud_clustering.py:76,187,195,386`, `02_geofraud_fraud.py:64,159`.
    """
    i, j = cell_ij(lat, lng, res)
    return cell_id_from_ij(i, j, res)


def lng_ring_count(lat: Column, res: int, epsilon_m: float) -> Column:
    """Rings needed in the longitude direction to cover ``epsilon_m``.

    Longitude cell width shrinks as cos(latitude); near the poles this
    diverges, so it is capped.  The cap scales with how much finer than
    epsilon the cell edge is — ``16 * ceil(epsilon / edge(res))`` — so
    the latitude at which truncation starts (|lat| ~ 86.4 degrees) is the
    same whether the pairing runs at the epsilon-matched resolution or an
    auto-densified finer one.  Points beyond that are not meaningful for
    this workload.
    """
    cap = 16 * max(1, math.ceil(float(epsilon_m) / RES_EDGE_M[res]))
    width_m = F.lit(RES_EDGE_M[res]) * F.greatest(
        F.cos(F.radians(lat)), F.lit(1e-3)
    )
    k = F.ceil(F.lit(float(epsilon_m)) / width_m).cast("int")
    return F.least(F.greatest(k, F.lit(1)), F.lit(cap))


def ring_cells(
    lat: Column,
    lng: Column,
    res: int,
    k_lat: Column | int = 1,
    k_lng: Column | int = 1,
) -> Column:
    """array<string> of cell ids in the (2*k_lat+1) x (2*k_lng+1) block
    centered on the point's cell — the epsilon-ring neighborhood used by the
    bucketed spatial join (reference algorithm step 1,
    `01_geofraud_clustering.py:18-24`) and by `getTiles(layers=...)`
    relaxation (`01_geofraud_clustering.py:360-364`).

    Built entirely from higher-order array functions: sequence/transform/
    flatten — stays inside whole-stage codegen, never touches Python.

    Boundary handling: longitude indices wrap modulo the cell count, so a
    ring straddling lng=±180 reaches its physical neighbors across the
    seam (a negative raw index would hex-format to 16 chars and truncate
    into a malformed id); latitude indices outside [0, i_max] (past the
    poles) are dropped from the ring rather than clamped — clamping would
    duplicate ids and multiply join pairs.
    """
    s = step_deg(res)
    n_lng = int(math.ceil(360.0 / s))
    i_max = int(math.floor(180.0 / s))
    i, j = cell_ij(lat, lng, res)
    k_lat = F.lit(k_lat) if isinstance(k_lat, int) else k_lat
    k_lng = F.lit(k_lng) if isinstance(k_lng, int) else k_lng
    di = F.sequence(-k_lat.cast("long"), k_lat.cast("long"))
    dj = F.sequence(-k_lng.cast("long"), k_lng.cast("long"))
    res_hex = F.lit(format(res, "02X"))
    n = F.lit(n_lng).cast("long")
    block = F.flatten(
        F.transform(
            di,
            lambda a: F.transform(
                dj,
                lambda b: F.when(
                    ((i + a) >= 0) & ((i + a) <= F.lit(i_max)),
                    F.concat(
                        res_hex,
                        F.lpad(F.hex(i + a), 7, "0"),
                        F.lpad(F.hex((((j + b) % n) + n) % n), 7, "0"),
                    ),
                ),
            ),
        )
    )
    return F.filter(block, lambda x: x.isNotNull())


# ---------------------------------------------------------------------------
# numpy mirror (pandas-side code paths) — bit-identical quantization
# ---------------------------------------------------------------------------


def cell_ij_np(
    lat: np.ndarray, lng: np.ndarray, res: int
) -> tuple[np.ndarray, np.ndarray]:
    s = step_deg(res)
    i = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / s).astype(np.int64)
    j = np.floor((np.asarray(lng, dtype=np.float64) + 180.0) / s).astype(np.int64)
    return i, j


def cell_id_np(lat: np.ndarray, lng: np.ndarray, res: int) -> np.ndarray:
    i, j = cell_ij_np(lat, lng, res)
    prefix = format(res, "02X")
    return np.array([f"{prefix}{a:07X}{b:07X}" for a, b in zip(i, j)], dtype=object)


def cell_id_py(lat: float, lng: float, res: int) -> str:
    """Scalar Python mirror (serving-path bloom scorer)."""
    s = step_deg(res)
    i = int(math.floor((lat + 90.0) / s))
    j = int(math.floor((lng + 180.0) / s))
    return f"{res:02X}{i:07X}{j:07X}"


def cell_center_py(cell: str) -> tuple[float, float]:
    """Cell id -> (lat, lng) of the cell center (polygon-fill helper)."""
    res = int(cell[0:2], 16)
    i = int(cell[2:9], 16)
    j = int(cell[9:16], 16)
    s = step_deg(res)
    return (i + 0.5) * s - 90.0, (j + 0.5) * s - 180.0
