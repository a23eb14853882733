"""Deterministic synthetic transactions (FIXTURES.md §A1 generator spec).

Mirrors the shape of the reference's shipped CSV
(`/root/reference/data/transactions.csv`: NYC lat/lng, amount, UUID users)
but scales synthetically: per user, 3-5 Gaussian spatial clusters
(sigma 100-300 m) plus ~1% uniform background noise, so density clustering
with the reference's parameters (epsilon 100-200 m, minPts 3-20) yields
both non-trivial clusters AND unclustered anomalies.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd

NYC_LAT = (40.7036, 40.7621)
NYC_LNG = (-74.0219, -73.9699)
M_PER_DEG = 111320.0


def make_transactions(
    n_users: int = 5,
    points_per_user: int = 2000,
    seed: int = 42,
    noise_frac: float = 0.01,
    lat_range: tuple[float, float] = NYC_LAT,
    lng_range: tuple[float, float] = NYC_LNG,
) -> pd.DataFrame:
    """``lat_range``/``lng_range`` widen the area for scale tests — a fixed
    city box at millions of points degenerates into one giant epsilon
    component, which is not what large-scale geo data looks like."""
    rng = np.random.default_rng(seed)
    rows = []
    for u in range(n_users):
        # UUIDs derived from the seed — stable across runs
        hi = int(rng.integers(0, 2**63, dtype=np.int64))
        user = str(uuid.UUID(int=(hi << 64) | u))
        n_clusters = int(rng.integers(3, 6))
        centers_lat = rng.uniform(*lat_range, n_clusters)
        centers_lng = rng.uniform(*lng_range, n_clusters)
        sigmas_m = rng.uniform(100, 300, n_clusters)
        n_noise = max(1, int(points_per_user * noise_frac))
        n_clustered = points_per_user - n_noise
        assignment = rng.integers(0, n_clusters, n_clustered)
        for k in range(n_clusters):
            m = int((assignment == k).sum())
            if m == 0:
                continue
            sig_deg = sigmas_m[k] / M_PER_DEG
            lat = rng.normal(centers_lat[k], sig_deg, m)
            lng = rng.normal(
                centers_lng[k], sig_deg / np.cos(np.radians(centers_lat[k])), m
            )
            for a, b in zip(lat, lng):
                rows.append((float(a), float(b), float(rng.uniform(5, 200)), user))
        for _ in range(n_noise):
            rows.append(
                (
                    float(rng.uniform(*lat_range)),
                    float(rng.uniform(*lng_range)),
                    float(rng.uniform(5, 200)),
                    user,
                )
            )
    df = pd.DataFrame(rows, columns=["latitude", "longitude", "amount", "user"])
    # deterministic global shuffle so partition order carries no signal
    return df.sample(frac=1.0, random_state=seed).reset_index(drop=True)
