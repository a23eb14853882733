"""Seeded sampling — spatial downsampling (the reference's skew
mitigation) and weighted reservoir sampling for corpus curation.

Reference `01_geofraud_clustering.py:170-198`: cap points per fine cell
(<=10 per res-11 ~30 m cell) before fitting; "dropped our skew by 80%"
(`01:203`). The reference does collect_list + random.sample in a UDF
(unseeded, and materializes whole groups); the engine uses a windowed
rank over a seeded hash — no group materialization, deterministic, and
the window partitioning key is the (high-cardinality) cell id, so it
scales to 100 TB without hot partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geoscan_fraud_spark.functions.grid import cell_id


def spatial_downsample(
    df: DataFrame,
    lat_col: str = "latitude",
    lng_col: str = "longitude",
    res: int = 11,
    max_per_cell: int = 10,
    seed: int = 42,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Keep at most ``max_per_cell`` rows per grid cell (per extra key).

    Selection is by seeded-hash rank — stable under row order and
    partitioning, unlike the reference's unseeded `random.sample`
    (SURVEY §5.3 determinism note).
    """
    keys = [cell_id(F.col(lat_col), F.col(lng_col), res)]
    if extra_keys:
        keys = [F.col(k) for k in extra_keys] + keys
    # rank by a hash of the FULL row, not just coordinates: duplicate
    # coordinates would tie and let partition order pick the survivor;
    # hashing every column gives a total order up to fully-identical rows
    # (which are interchangeable)
    rank_col = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
    w = Window.partitionBy(*keys).orderBy(rank_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_per_cell)
        .drop("__rn")
    )


#: Scale of the md5-hex-slice uniform: 15 hex chars = 60 bits.
_U_SCALE = float(1 << 60)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 42,
    keep_key: bool = False,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: k rows, each row's
    inclusion probability proportional to ``weight_col`` (Efraimidis-
    Spirakis A-ES: per-row key u^(1/w) with u ~ Uniform(0,1], keep the
    k largest keys — the one-pass reservoir scheme).

    Deterministic and engine-portable: u derives from a 60-bit md5 slice
    of (id, seed) — the same hex-slice-to-bigint trick the dedup oracles
    use — so a DuckDB replay computes bit-identical uniforms. (The pow()
    itself is IEEE-double in both engines; a rank flip would need two
    keys within 1 ulp, negligible for real weights.) Ties break by id.

    100 TB shape: the top-k is `orderBy(key desc).limit(k)` — Spark
    plans TakeOrderedAndProject: per-partition k-heaps, then a driver
    merge of per-partition tops. No global sort, no full shuffle; the
    driver holds O(partitions · k) keys. For k beyond driver memory use
    stratified/mixture sampling (`operators/packing.py`) instead.

    Rows with weight <= 0 or NULL are excluded (zero mass).

    ``keep_key=True`` retains the A-ES priority as ``__aes_key`` —
    what makes per-batch samples MERGEABLE (`merge_weighted_samples`):
    the key is a pure function of (id, seed, weight), so the global
    top-k over a partitioned corpus equals the top-k of the per-batch
    top-k's. The profiling-sketch property (`operators/profiling.py`)
    applied to sampling: a streaming pipeline keeps one k-row sample
    per batch and rolls up an EXACT corpus-level sample with no
    rescan."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.col(id_col).cast("string"), F.lit(str(seed)))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(1)
    ) / F.lit(_U_SCALE)
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    out = (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("__aes_key", key)
        .orderBy(F.col("__aes_key").desc(), F.col(id_col))
        .limit(k)
    )
    return out if keep_key else out.drop("__aes_key")


def merge_weighted_samples(samples: list[DataFrame], k: int, id_col: str = "doc_id") -> DataFrame:
    """Merge per-batch `weighted_sample(..., keep_key=True)` outputs into
    the exact global k-sample: union the (tiny) per-batch samples and
    take the key top-k again. Correct because every A-ES key is computed
    independently per row — a row outside its batch's top-k can never be
    in the global top-k (k per batch >= global k). Ids must be unique
    across batches (same contract as the incremental stores)."""
    if not samples:
        raise ValueError("samples must be non-empty")
    u = samples[0]
    for s in samples[1:]:
        u = u.unionByName(s)
    return (
        u.orderBy(F.col("__aes_key").desc(), F.col(id_col))
        .limit(k)
        .drop("__aes_key")
    )


def weighted_sample_log(
    df: DataFrame,
    log_weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """`weighted_sample` taking LOG weights — the numerically safe form
    when weights span hundreds of orders of magnitude (importance ratios
    of document likelihoods, `operators/dsir.py`, are exp(Σ log-ratios)
    and overflow/underflow a double long before they overflow a log).

    Same A-ES scheme in log space: key u^(1/w) is ranked by
    log key = log(u)·exp(-(lw - max(lw))) — the max-normalization is
    valid because A-ES is scale-invariant (scaling every weight by c
    maps log keys through the monotone x -> x/c, preserving the ranking
    distribution), and it enters the plan as a broadcast one-row
    aggregate (no job at build — the lazy-scalar pattern). Rows whose
    normalized weight still underflows to 0 rank -inf (zero mass, same
    as `weighted_sample`'s w<=0 exclusion). NULL log-weights are
    excluded. Ties break by id; same TakeOrderedAndProject shape."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.col(id_col).cast("string"), F.lit(str(seed)))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(1)
    ) / F.lit(_U_SCALE)
    mx = df.agg(F.max(F.col(log_weight_col).cast("double")).alias("__mx"))
    logkey = F.log(u) * F.exp(
        -(F.col(log_weight_col).cast("double") - F.col("__mx"))
    )
    return (
        df.filter(F.col(log_weight_col).isNotNull())
        .crossJoin(F.broadcast(mx))
        .withColumn("__logkey", logkey)
        .orderBy(F.col("__logkey").desc(), F.col(id_col))
        .limit(k)
        .drop("__logkey", "__mx")
    )
