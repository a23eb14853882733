"""The benchmark workloads: ``fit_distributed`` and ``score``.

Each workload has the same shape:

* ``setup(spark, seed, work, tr)`` generates the inputs from the seed and
  builds what the operations need (timed as set-up);
* ``prepare_checks(spark, state)`` computes the independent oracle and
  checks the set-up's own outputs (not timed); it returns the number of
  set-up checks made and failed;
* ``op(spark, state, tr, batches=None)`` runs one operation and returns
  an ``Op``; ``batches`` cuts it short, for the warm-up;
* ``check(spark, state, op)`` compares the operation's output with the
  oracle and returns the number of failed checks (not timed);
* ``release(op)`` drops what the operation cached.

Layer calls go through the tracer, which is a no-op unless the run is
traced; the traced run also forces each layer's output at its boundary and
records the deterministic counts.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geoscan_fraud_spark.functions.dbscan_local import local_dbscan
from geoscan_fraud_spark.functions.grid import cell_id_py
from geoscan_fraud_spark.operators import bloom, geoscan, scoring, tiles
from geoscan_fraud_spark.operators.personalized import GeoscanPersonalized
from geoscan_fraud_spark.sources import io
from geoscan_fraud_spark.testing.datagen import make_transactions

from tracing import Tracer

#: a wider metro box for the distributed fit: the default city box is so
#: dense at 10k points that epsilon-neighbourhoods percolate into one cluster
METRO_LAT = (40.60, 40.85)
METRO_LNG = (-74.10, -73.80)
TILE_RES = 10


@dataclass
class Op:
    """One measured operation."""

    wall_s: float
    tx: int  # transactions processed
    batch_ms: list[float]  # latency samples this operation contributes
    out: dict = field(default_factory=dict)  # what ``check`` inspects


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of a parquet directory."""
    names = [n for n in os.listdir(path) if n.endswith(".parquet")]
    return len(names), sum(os.path.getsize(os.path.join(path, n)) for n in names)


@contextlib.contextmanager
def _patched(module, name: str, wrapper):
    """Temporarily rebind ``module.name`` — how the traced run puts a span
    around a call the engine makes internally."""
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


# ---------------------------------------------------------------------------
# the train path — GeoscanPersonalized.fit -> getTiles -> tile_tfidf -> save
# -> train_blooms; run as the set-up of ``score``
# ---------------------------------------------------------------------------


def train_pass(spark, pdf: pd.DataFrame, work: str, tr: Tracer, eps: float, min_pts: int):
    """Build a model from ``pdf`` the way the reference's notebook does.

    Writes the tiles table and the blooms under ``work`` and returns
    ``(model, tiles_path, blooms_path)``; the model's DataFrames stay
    persisted until ``release_model``.
    """
    tiles_path = os.path.join(work, "tiles")
    blooms_path = os.path.join(work, "blooms")
    points = spark.createDataFrame(pdf).persist()
    with tr.span("personalized.fit"):
        model = GeoscanPersonalized().setEpsilon(eps).setMinPts(min_pts).fit(points)
        if tr.enabled:
            tr.count("personalized.models", model.models.count())
    if tr.enabled:
        # the kernel each fit_group runs, called directly on the largest user
        top = pdf[pdf["user"] == pdf["user"].value_counts().idxmax()]
        with tr.span("dbscan_local.local_dbscan"):
            local_dbscan(top["latitude"].to_numpy(), top["longitude"].to_numpy(), eps, min_pts)
    with tr.span("personalized.getTiles"):
        user_tiles = tr.force(model.getTiles(), "tiles.rows")
    with tr.span("tiles.tile_tfidf"):
        scored = tr.force(tiles.tile_tfidf(user_tiles, points))
    with tr.span("tiles.save_tiles_table"), _traced_write(tr):
        tiles.save_tiles_table(scored, tiles_path)
    if tr.enabled:
        n_files, n_bytes = _dir_stats(tiles_path)
        tr.count("io.files", n_files)
        tr.count("io.bytes_written_mb", n_bytes / 1e6)
    with tr.span("io.read_parquet"):
        table = tr.force(io.read_parquet(spark, tiles_path))
    with tr.span("bloom.train_blooms"):
        bloom.train_blooms(table).write.mode("overwrite").parquet(blooms_path)
    if tr.enabled:
        stats = io.read_parquet(spark, blooms_path).agg(
            F.sum(F.length("bloom")).alias("b"), F.sum("n_tiles").alias("t")
        ).first()
        tr.count("bloom.bytes_per_tile", stats["b"] / stats["t"])
    tr.release()
    points.unpersist()
    return model, tiles_path, blooms_path


def release_model(model) -> None:
    model.models.unpersist()
    for t in model._tiles_cache.values():
        t.unpersist()


def clusters_per_user(pdf: pd.DataFrame, eps: float, min_pts: int) -> dict[str, int]:
    """The oracle for the train path: clusters per user from the NumPy
    kernel, user by user."""
    out = {}
    for user, g in pdf.groupby("user"):
        labels = local_dbscan(g["latitude"].to_numpy(), g["longitude"].to_numpy(), eps, min_pts)
        n = len({int(c) for c in labels if c >= 0})
        if n:
            out[user] = n
    return out


@contextlib.contextmanager
def _traced_write(tr):
    if not tr.enabled:
        yield
        return

    def wrap(fn):
        def inner(*a, **kw):
            with tr.span("io.write_sorted_layout"):
                return fn(*a, **kw)

        return inner

    with _patched(tiles, "write_sorted_layout", wrap):
        yield


# ---------------------------------------------------------------------------
# fit_distributed — one Geoscan().fit over a metro area + transform
# ---------------------------------------------------------------------------


class FitDistributed:
    """One distributed fit: ring explode -> epsilon pairs -> components ->
    hulls, then every point assigned to a cluster by ``transform``, in
    fixed-size batches whose latencies are the batch samples."""

    name = "fit_distributed"
    eps, min_pts = 200.0, 20

    def __init__(self, smoke: bool):
        self.users, self.batches = (3, 2) if smoke else (4, 1)

    def setup(self, spark, seed: int, work: str, tr: Tracer) -> dict:
        pdf = make_transactions(
            self.users, 150, seed=seed, lat_range=METRO_LAT, lng_range=METRO_LNG
        )
        batch = np.arange(len(pdf)) % self.batches
        tagged = spark.createDataFrame(
            pdf[["latitude", "longitude"]].assign(batch=batch)
        ).persist()
        return {
            "tagged": tagged,
            "points": tagged.select("latitude", "longitude"),
            "n": tagged.count(),
            "pdf": pdf,
            "batch": batch,
        }

    def prepare_checks(self, spark, state: dict) -> tuple[int, int]:
        """Oracle: cluster sizes, largest first, from the NumPy kernel; and
        each point's tile, from the pure-Python cell id."""
        pdf = state["pdf"]
        labels = local_dbscan(
            pdf["latitude"].to_numpy(), pdf["longitude"].to_numpy(), self.eps, self.min_pts
        )
        state["expect"] = sorted(np.bincount(labels[labels >= 0]).tolist(), reverse=True)
        prec = geoscan.Geoscan().tilePrecision
        state["cells"] = np.array(
            [cell_id_py(a, o, prec) for a, o in zip(pdf["latitude"], pdf["longitude"])]
        )
        return 0, 0

    def op(self, spark, state: dict, tr, batches: int | None = None) -> Op:
        tagged = state["tagged"]
        t0 = time.perf_counter()
        with tr.span("geoscan.fit"), _traced_fit(tr):
            model = geoscan.Geoscan().setEpsilon(self.eps).setMinPts(self.min_pts).fit(
                state["points"]
            )
        lat, rows = [], []
        for k in range(batches or self.batches):
            tb = time.perf_counter()
            with tr.span("geoscan.transform"):
                row = model.transform(tagged.filter(F.col("batch") == k)).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count(model.predictionCol).alias("assigned"),
                ).first()
            lat.append((time.perf_counter() - tb) * 1e3)
            rows.append((row["n"], row["assigned"]))
        wall = time.perf_counter() - t0
        tr.release()
        return Op(wall_s=wall, tx=state["n"], batch_ms=lat, out={"model": model, "rows": rows})

    def check(self, spark, state: dict, op: Op) -> int:
        """One failure if the clusters differ from the NumPy kernel's, and
        one per batch whose points or assigned points differ from the
        reference: a point is assigned when its tile is a model tile."""
        model = op.out["model"]
        sizes = sorted(
            (r["n_points"] for r in model.polygons.select("n_points").collect()),
            reverse=True,
        )
        failed = int(sizes != state["expect"])
        tile_set = {r["h3"] for r in model.getTiles().select("h3").collect()}
        hit = np.array([c in tile_set for c in state["cells"]])
        for k, (n, assigned) in enumerate(op.out["rows"]):
            in_batch = state["batch"] == k
            failed += int(n != in_batch.sum() or assigned != hit[in_batch].sum())
        return failed

    def release(self, op: Op) -> None:
        op.out["model"].unpersistTiles()
        op.out["model"].polygons.unpersist()


@contextlib.contextmanager
def _traced_fit(tr):
    """Spans around the two calls ``Geoscan.fit`` makes into other layers.

    The pair list and the core-core edge list are lazy inside the fit, so
    each is forced (persisted and counted) at the boundary of the call
    that consumes it.
    """
    if not tr.enabled:
        yield
        return

    def wrap_pairs(fn):
        def inner(*a, **kw):
            with tr.span("geoscan.epsilon_pairs"):
                return tr.force(fn(*a, **kw), "geoscan.pairs")

        return inner

    def wrap_cc(fn):
        def inner(edges, *a, **kw):
            with tr.span("geoscan.core_edges"):
                edges = tr.force(edges, "components.edges")
            with tr.span("components.connected_components"):
                return tr.force(fn(edges, *a, **kw), "components.vertices")

        return inner

    with _patched(geoscan, "epsilon_pairs", wrap_pairs), _patched(
        geoscan, "connected_components", wrap_cc
    ):
        yield


# ---------------------------------------------------------------------------
# score — micro-batches against the tiles table and the blooms
# ---------------------------------------------------------------------------


class Score:
    """The serving path: anti-join and bloom scoring of fixed-size batches."""

    name = "score"
    eps, min_pts = 100.0, 10

    def __init__(self, smoke: bool):
        if smoke:
            self.users, self.ppu, self.held, self.batch, self.batches = 3, 200, 70, 100, 2
        else:
            self.users, self.ppu, self.held, self.batch, self.batches = 12, 600, 200, 300, 2

    def setup(self, spark, seed: int, work: str, tr: Tracer) -> dict:
        """Build the model with the train path, then read it back and cache it."""
        pdf = make_transactions(self.users, self.ppu + self.held, seed=seed)
        train, held = split_held_out(pdf, self.ppu)
        n_new = unseen_per_batch(self.batch)
        unseen = make_transactions(
            self.users, -(-n_new * self.batches // self.users), seed=seed + 1
        )
        batches = make_batches(held, unseen, self.batch, self.batches)
        model, tiles_path, blooms_path = train_pass(
            spark, train, work, tr, self.eps, self.min_pts
        )
        with tr.span("io.read_parquet"):
            tiles_df = io.read_parquet(spark, tiles_path).persist()
            blooms_df = io.read_parquet(spark, blooms_path).persist()
            tiles_df.count()
            blooms_df.count()
        return {
            "train": train,
            "model": model,
            "tiles": tiles_df,
            "blooms": blooms_df,
            "tiles_path": tiles_path,
            "batches": batches,
        }

    def prepare_checks(self, spark, state: dict) -> tuple[int, int]:
        """Check the model's clusters per user against the NumPy kernel,
        then build the scoring oracle: per batch, the tx ids off their
        user's tiles, from the tiles table read with pandas."""
        model = state.pop("model")
        got = {r["user"]: r["count"] for r in model.models.groupBy("user").count().collect()}
        release_model(model)
        failed = int(got != clusters_per_user(state["train"], self.eps, self.min_pts))
        table = pd.read_parquet(state["tiles_path"], columns=["user", "h3"])
        known = set(zip(table["user"], table["h3"]))
        state["expect"] = []
        for b in state["batches"]:
            cells = [cell_id_py(a, o, TILE_RES) for a, o in zip(b["latitude"], b["longitude"])]
            state["expect"].append(
                {int(t) for t, u, c in zip(b["tx_id"], b["user"], cells) if (u, c) not in known}
            )
        return 1, failed

    def op(self, spark, state: dict, tr, batches: int | None = None) -> Op:
        lat, flagged = [], []
        t0 = time.perf_counter()
        for b in state["batches"][:batches]:
            tb = time.perf_counter()
            with tr.span("score.batch"):
                tx = spark.createDataFrame(b)
                with tr.span("scoring.extract_anomalies"):
                    anti = scoring.extract_anomalies(tx, state["tiles"]).select("tx_id").collect()
                with tr.span("bloom.score_with_blooms"):
                    blm = (
                        bloom.score_with_blooms(tx, state["blooms"])
                        .filter("anomaly = 1")
                        .select("tx_id")
                        .collect()
                    )
            lat.append((time.perf_counter() - tb) * 1e3)
            anti_ids = {r[0] for r in anti}
            blm_ids = {r[0] for r in blm}
            tr.count("scoring.anomalies", len(anti_ids))
            tr.count("bloom.flagged", len(blm_ids))
            flagged.append((anti_ids, blm_ids))
        wall = time.perf_counter() - t0
        return Op(
            wall_s=wall,
            tx=sum(len(b) for b in state["batches"]),
            batch_ms=lat,
            out={"flagged": flagged},
        )

    def check(self, spark, state: dict, op: Op) -> int:
        """One failure per batch whose anti-join set differs from the pandas
        reference, or whose bloom set is not a subset of it (a bloom false
        negative), or that lets an unseen user through."""
        failed = 0
        for (anti, blm), exp, b in zip(op.out["flagged"], state["expect"], state["batches"]):
            unseen = set(b.loc[b["kind"] == "unseen", "tx_id"].astype(int))
            failed += int(anti != exp or not blm <= anti or not unseen <= blm)
        return failed

    def release(self, op: Op) -> None:
        pass


#: share of each batch that comes from users the model has never seen. It
#: is chosen, not measured: its job is to put unseen users in every batch.
UNSEEN_SHARE = 0.02


def unseen_per_batch(size: int) -> int:
    return max(1, round(size * UNSEEN_SHARE))


def split_held_out(pdf: pd.DataFrame, per_user: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(train, held-out): each user's first ``per_user`` rows train the
    model, and the rest are new draws for that user from the same
    generator, with its 1% background noise."""
    pos = pdf.groupby("user").cumcount()
    return pdf[pos < per_user].reset_index(drop=True), pdf[pos >= per_user].reset_index(drop=True)


def make_batches(
    held: pd.DataFrame, unseen: pd.DataFrame, size: int, count: int
) -> list[pd.DataFrame]:
    """Fixed-size batches of new transactions: held-out draws of the known
    users, plus ``UNSEEN_SHARE`` from users the model has never seen."""
    n_new = unseen_per_batch(size)
    n_known = size - n_new
    out = []
    for k in range(count):
        b = pd.concat(
            [
                held.iloc[k * n_known : (k + 1) * n_known].assign(kind="known"),
                unseen.iloc[k * n_new : (k + 1) * n_new].assign(kind="unseen"),
            ],
            ignore_index=True,
        )
        b.insert(0, "tx_id", np.arange(k * size, (k + 1) * size, dtype=np.int64))
        out.append(b)
    return out


#: the disabled tracer, for set-up and warm-up passes
OFF = Tracer(None, enabled=False)

WORKLOADS = {w.name: w for w in (FitDistributed, Score)}
