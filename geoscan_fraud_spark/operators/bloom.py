"""Bloom-filter serving path — per-user probabilistic tile membership.

Re-implements `utils/bloom_utils.py` (`bu:8-42`) and the pyfunc packaging
of `02_geofraud_fraud.py:173-238`, with the reference's bugs fixed
(SURVEY §5.3):

* tiles are stored as real arrays (parquet), never a stringified CSV list
  (`bu:21` trained blooms on single characters);
* the training FPR is the serving FPR (`bu:22` trained at 0.01 but served
  at 0.1);
* unseen users are defined: anomaly=1 (`bu:35` raised KeyError).

Two scoring paths:
* `H3Lookup` — single-process pandas scorer, the pyfunc-equivalent class
  the reference serves "real time, on stream, on SQL, or on demand"
  (`02:196`);
* `score_with_blooms` — distributed: blooms live in a DataFrame
  (user, bloom bytes) joined to transactions by user (no forced broadcast
  — AQE broadcasts when small, shuffle-hash-joins when not), membership
  tested by one native SQL expression (md5 positions, `forall` over the k
  bits), so no row leaves the JVM and a batch pays no Python-task floor.
  Nothing is collected driver-side, so it scales to any user count —
  per-user blooms are ~1-2 KB, so 100 M users is ~150 GB *distributed*.

`BloomFilter` is the one definition of the serialized format; the SQL
scorer reads the same bytes, and a parity test ties the two together.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoscan_fraud_spark.functions.grid import cell_id_py


#: first byte of every serialized bloom, so a bloom in an older layout fails
#: to load instead of scoring wrong
FORMAT_VERSION = 2
#: version byte + m (8 bytes) + k (2 bytes), big-endian
HEADER_BYTES = 11
FORMAT_NAME = (
    f"bloom format v{FORMAT_VERSION} (version byte {FORMAT_VERSION}, big-endian "
    "m/k header, md5 positions)"
)


class BloomFilter:
    """Plain-Python bloom filter (stdlib hashlib; deterministic).

    The one definition of the serialized format. Positions come from the
    item's md5 hex digest, which Spark SQL computes natively (`md5`), so
    `score_with_blooms` tests membership without leaving the JVM:
    ``h1 = int(hx[0:15], 16) % m``, ``h2 = (int(hx[15:30], 16) | 1) % m``,
    ``p_i = (h1 + i * h2) % m`` for ``i < k``; bit ``p`` is bit ``p & 7``
    of byte ``p >> 3``.
    """

    def __init__(self, n_items: int, fpr: float = 0.01):
        n_items = max(1, int(n_items))
        m = max(8, int(math.ceil(-n_items * math.log(fpr) / (math.log(2) ** 2))))
        self.m = m
        self.k = max(1, round(m / n_items * math.log(2)))
        self.bits = bytearray((m + 7) // 8)

    def _positions(self, item: str):
        hx = hashlib.md5(item.encode("utf-8")).hexdigest()
        h1 = int(hx[0:15], 16) % self.m
        h2 = (int(hx[15:30], 16) | 1) % self.m
        for i in range(self.k):
            yield (h1 + i * h2) % self.m

    def add(self, item: str) -> None:
        for p in self._positions(item):
            self.bits[p >> 3] |= 1 << (p & 7)

    def update(self, items) -> None:
        for it in items:
            self.add(it)

    def __contains__(self, item: str) -> bool:
        return all(self.bits[p >> 3] & (1 << (p & 7)) for p in self._positions(item))

    def to_bytes(self) -> bytes:
        return (
            bytes([FORMAT_VERSION])
            + self.m.to_bytes(8, "big")
            + self.k.to_bytes(2, "big")
            + bytes(self.bits)
        )

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomFilter":
        bf = cls.__new__(cls)
        bf.m = int.from_bytes(raw[1:9], "big")
        bf.k = int.from_bytes(raw[9:11], "big")
        bf.bits = bytearray(raw[HEADER_BYTES:])
        # the length check catches an old blob whose first byte happens
        # to equal the version: its m would then be wildly wrong
        if raw[:1] != bytes([FORMAT_VERSION]) or len(bf.bits) != (bf.m + 7) // 8:
            raise ValueError(f"not a {FORMAT_NAME}; rebuild it with train_blooms")
        return bf


def train_blooms(
    tiles: DataFrame, user_col: str = "user", fpr: float = 0.01
) -> DataFrame:
    """tiles (user, ..., h3) -> (user, n_tiles, bloom binary).

    The A2 collect path of `02:173,200-204`, but the per-user tile set is
    built and hashed executor-side (applyInPandas per user) — the driver
    never materializes any user's tiles.
    """
    from pyspark.sql import types as T

    grp_field = tiles.schema[user_col]
    schema = T.StructType(
        [
            T.StructField(user_col, grp_field.dataType),
            T.StructField("n_tiles", T.LongType()),
            T.StructField("bloom", T.BinaryType()),
        ]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        cells = sorted(set(pdf["h3"]))
        bf = BloomFilter(len(cells), fpr)
        bf.update(cells)
        return pd.DataFrame(
            {
                user_col: [pdf[user_col].iloc[0]],
                "n_tiles": [len(cells)],
                "bloom": [bf.to_bytes()],
            }
        )

    return tiles.select(user_col, "h3").groupBy(user_col).applyInPandas(build, schema)


class H3Lookup:
    """pyfunc-style pandas scorer (`bu:13-42` with the §5.3 fixes).

    Runs in a single Python process — the serving-container hop of
    SURVEY §3.3. anomaly=1 iff the transaction's tile is absent from the
    user's bloom; unseen users score anomaly=1.

    SCALE CEILING (deliberate, it is the reference's own serving
    contract): `from_model_df` collects EVERY user's bloom to the driver
    — ~1.5 KB per user at the default fpr, so ~1.5 GB of driver heap per
    million users, plus the dict build. This artifact path is for a
    serving container holding a bounded user population (the reference's
    MLflow pyfunc deployment); past ~1M users, score in-cluster with
    `score_with_blooms`, which joins blooms by user and never moves the
    model through the driver (plan-construction job-freedom pinned in
    tests/test_round8_fixes.py).
    """

    def __init__(self, blooms: dict[str, BloomFilter], precision: int = 10):
        self.blooms = blooms
        self.precision = precision

    @classmethod
    def from_model_df(cls, blooms_df: DataFrame, user_col: str = "user", precision: int = 10):
        rows = blooms_df.select(user_col, "bloom").collect()
        return cls({r[0]: BloomFilter.from_bytes(bytes(r[1])) for r in rows}, precision)

    def predict(self, pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        anomalies = []
        for user, lat, lng in zip(pdf["user"], pdf["latitude"], pdf["longitude"]):
            bf = self.blooms.get(user)
            if bf is None:
                anomalies.append(1)
                continue
            tile = cell_id_py(float(lat), float(lng), self.precision)
            anomalies.append(0 if tile in bf else 1)
        out["anomaly"] = anomalies
        return out


def score_with_blooms(
    transactions: DataFrame,
    blooms_df: DataFrame,
    user_col: str = "user",
    lat_col: str = "latitude",
    lng_col: str = "longitude",
    precision: int = 10,
) -> DataFrame:
    """Distributed bloom scoring: join blooms by user, test membership as
    one native SQL expression. Unmatched users (no bloom) -> anomaly=1.

    The tile id, its md5 and the bloom header are all built-in
    expressions, so no row leaves the JVM. The two 60-bit hash halves are
    computed on the transaction side and m, k on the bloom side, both
    below the join: Catalyst re-evaluates a lambda body per element and
    inlines projections into it when a filter on `anomaly` is pushed
    down, but never across a join, so the `forall` body only does
    arithmetic and the k bit reads. A bloom not in the current format
    fails the query through `raise_error` instead of scoring garbage.
    """
    from geoscan_fraud_spark.functions.grid import cell_id
    from geoscan_fraud_spark.operators.dedup import _ident

    tx = [_ident(c) for c in transactions.columns]
    hx = F.md5(cell_id(F.col(_ident(lat_col)), F.col(_ident(lng_col)), precision))
    hashed = transactions.select(
        *tx,
        F.conv(F.substring(hx, 1, 15), 16, 10).cast("bigint").alias("__x1"),
        F.conv(F.substring(hx, 16, 15), 16, 10).cast("bigint").bitwiseOR(F.lit(1)).alias("__x2"),
    )
    m_raw = "try_cast(conv(hex(substring(bloom, 2, 8)), 16, 10) AS BIGINT)"
    headers = blooms_df.selectExpr(
        _ident(user_col),
        "bloom AS __bloom",
        f"""CASE WHEN bloom IS NULL THEN NULL
        WHEN substring(bloom, 1, 1) = X'{FORMAT_VERSION:02X}'
         AND length(bloom) = {HEADER_BYTES} + ({m_raw} + 7) DIV 8 THEN {m_raw}
        ELSE raise_error('not a {FORMAT_NAME}; rebuild it with train_blooms') END AS __m""",
        "CAST(conv(hex(substring(bloom, 10, 2)), 16, 10) AS INT) AS __k",
    )
    # No broadcast hint: blooms_df grows with the user population (~1.5 KB
    # per user → ~150 GB at 100 M users), far past broadcast range. AQE
    # still picks a broadcast join when the table is actually small; at
    # scale it degrades to a shuffle-hash join instead of an OOM.
    joined = hashed.join(headers, user_col, "left_outer")
    p = "pmod(pmod(__x1, __m) + i * pmod(__x2, __m), __m)"
    byte = (
        f"CAST(conv(hex(substring(__bloom, {HEADER_BYTES + 1} + CAST(shiftright({p}, 3) AS INT), 1)),"
        " 16, 10) AS INT)"
    )
    return joined.selectExpr(
        *tx,
        f"""CASE WHEN __bloom IS NULL THEN 1
        WHEN forall(sequence(0, __k - 1), i -> shiftright({byte}, CAST({p} & 7 AS INT)) & 1 = 1)
        THEN 0 ELSE 1 END AS anomaly""",
    )


def log_h3lookup(
    tiles: DataFrame,
    user_col: str = "user",
    tile_col: str = "h3",
    precision: int = 10,
    fpr: float = 0.01,
    run_name: str = "h3_lookup",
):
    """Package the serving scorer as a REAL ``mlflow.pyfunc`` model —
    the thin adapter for `02_geofraud_fraud.py:200-238` (VERDICT r11
    missing #1). The tiles relation is exported as a long-format CSV
    artifact (one ``user,h3`` row per tile — a proper table, avoiding
    the reference's stringified-list bug `bu:21` where blooms trained on
    single characters), and the logged PythonModel rebuilds the per-user
    blooms from that artifact in ``load_context`` with EXACTLY
    `train_blooms`' construction (sorted distinct tiles, same fpr at
    train and serve — the `bu:22` fix), then scores through `H3Lookup`.

    Requires ``mlflow`` (importable in a Databricks-like deployment;
    NOT installed in this sandbox — the adapter raises a friendly
    ImportError and its test skips cleanly). Returns whatever
    ``mlflow.pyfunc.log_model`` returns (ModelInfo).

    SCALE CEILING: same as `H3Lookup.from_model_df` — the artifact holds
    the full tile table and the loaded model holds every user's bloom in
    one process. This is the reference's own serving contract (a
    bounded user population in a serving container); score in-cluster
    with `score_with_blooms` past ~1M users.
    """
    try:
        import mlflow
        import mlflow.pyfunc
    except ImportError as e:  # pragma: no cover - mlflow absent here
        raise ImportError(
            "log_h3lookup needs mlflow, which is not installed; either "
            "pip install mlflow, or serve without packaging via "
            "H3Lookup.from_model_df / score_with_blooms"
        ) from e

    import os
    import tempfile

    art_dir = tempfile.mkdtemp(prefix="h3lookup_artifact_")
    csv_path = os.path.join(art_dir, "tiles.csv")
    (
        tiles.select(
            F.col(user_col).alias("user"), F.col(tile_col).alias("h3")
        )
        .toPandas()
        .to_csv(csv_path, index=False)
    )

    class _H3LookupModel(mlflow.pyfunc.PythonModel):
        def __init__(self, precision: int, fpr: float):
            self._precision = precision
            self._fpr = fpr
            self._scorer = None

        def load_context(self, context):
            pdf = pd.read_csv(
                context.artifacts["tiles"], dtype={"user": str, "h3": str}
            )
            blooms = {}
            for user, grp in pdf.groupby("user", sort=False):
                cells = sorted(set(grp["h3"]))
                bf = BloomFilter(len(cells), self._fpr)
                bf.update(cells)
                blooms[user] = bf
            self._scorer = H3Lookup(blooms, self._precision)

        def predict(self, context, model_input, params=None):
            return self._scorer.predict(model_input)

    model = _H3LookupModel(precision, fpr)
    with mlflow.start_run(run_name=run_name):
        try:
            # mlflow >= 2.x keyword; renamed to `name` in 3.x
            return mlflow.pyfunc.log_model(
                artifact_path="pipeline",
                python_model=model,
                artifacts={"tiles": csv_path},
            )
        except TypeError:
            return mlflow.pyfunc.log_model(
                name="pipeline",
                python_model=model,
                artifacts={"tiles": csv_path},
            )
