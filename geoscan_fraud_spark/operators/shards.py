"""Deterministic, token-balanced training-shard layout.

The last step of a training-data pipeline is writing the corpus as N
shards that (a) are near-equal in TOKEN count (so every data-loader
worker finishes an epoch together), (b) are globally shuffled (so shard
boundaries don't correlate with crawl order / domain / time), and (c)
are reproducible run-to-run (so a resumed or re-run pipeline
produces the same shards with the same contents). Spark's own writers give none of this:
`repartition(N)` round-robins ROWS (token counts skew with document
length) and its assignment changes with the input's partitioning.

The operator realizes all three with the classic two-pass distributed
prefix sum:

1. every document gets a portable pseudo-random order key — an md5 of
   (seed, id), the same engine-portable uniform the weighted sampler
   uses (`operators/sampling.py`) — and the corpus is RANGE-partitioned
   and sorted by it: a deterministic global shuffle, one corpus
   exchange;
2. per-partition token totals (one row per partition — driver-bounded,
   ~100k rows at 100 TB, NOT corpus-bounded) are collected and turned
   into exclusive partition offsets;
3. each row's global token position = its partition's offset + a
   running sum within the partition (a window keyed by the materialized
   partition id), and its shard is simply
   ``floor(global_pos / shard_tokens)``.

Shard boundaries therefore cut the key-ordered corpus into contiguous
token ranges: every shard holds ~shard_tokens tokens (± one document),
and because the key order is a pure function of (seed, id) the
assignment is independent of input partitioning, cluster size, and
execution order. The range exchange is pinned with an eager
localCheckpoint before the offsets are read so pass 2 and pass 3 see
the identical partitioning (RangePartitioner samples its bounds; two
separate actions over an unpinned plan could draw different bounds).

Scale notes: the per-partition offset table broadcast-joins back (never
a literal map — at 100 TB the partition count alone would blow the
expression tree); the window's partition key has one distinct value per
range partition, so its exchange preserves parallelism. Cost is two
corpus moves (range + window). A zero-second-shuffle variant (running
sum via Arrow-batched mapInPandas over the already-sorted partitions)
trades the second exchange for a double Arrow crossing of the full
text payload; for wide text rows the JVM-side window wins, so that
variant is deliberately not implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order_key(id_col: str, seed: int):
    """Engine-portable deterministic uniform order key: md5 over the
    seed-qualified id (hashlib/DuckDB replicate it byte-for-byte)."""
    return F.md5(
        F.concat_ws(":", F.lit(str(int(seed))), F.col(id_col).cast("string"))
    )


def assign_token_shards(
    df: DataFrame,
    shard_tokens: int,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: int = 42,
    num_partitions: "int | None" = None,
) -> DataFrame:
    """Input + ``shard`` (bigint) + ``__k`` (the order key, kept so
    writers can make in-shard order deterministic too). Shard s holds
    the documents whose exclusive prefix-token-sum in global key order
    falls in [s * shard_tokens, (s+1) * shard_tokens).

    Deterministic in (seed, ids, token counts) ONLY — independent of
    input partitioning and cluster layout (pinned by tests). Documents
    longer than ``shard_tokens`` stay whole: they land in the shard
    where they start (shard token totals overshoot by at most one
    document — split-on-boundary belongs to `chunk_documents`, not the
    shard writer).
    """
    if shard_tokens <= 0:
        raise ValueError(f"shard_tokens must be positive, got {shard_tokens}")
    for reserved in ("__k", "__pid", "__run", "__off"):
        if reserved in df.columns:
            raise ValueError(f"reserved column name {reserved!r} in input")
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    keyed = df.withColumn("__k", _order_key(id_col, seed))
    rp = (
        keyed.repartitionByRange(int(n), "__k")
        .sortWithinPartitions("__k")
        .withColumn("__pid", F.spark_partition_id())
        # pin the sampled range bounds: offsets (next action) and the
        # window (final plan) MUST see the same partition assignment
        .localCheckpoint(eager=True)
    )
    sums = (
        rp.groupBy("__pid")
        .agg(F.sum(F.col(tokens_col).cast("long")).alias("__ptok"))
        .collect()
    )
    per = {int(r["__pid"]): int(r["__ptok"]) for r in sums}
    off, acc = {}, 0
    for pid in sorted(per):
        off[pid] = acc
        acc += per[pid]
    offsets = df.sparkSession.createDataFrame(
        [(pid, o) for pid, o in off.items()], "__pid int, __off long"
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy("__k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = F.coalesce(
        F.sum(F.col(tokens_col).cast("long")).over(w), F.lit(0).cast("long")
    )
    return (
        rp.join(F.broadcast(offsets), "__pid")
        .withColumn("__run", run)
        .withColumn(
            "shard",
            F.floor(
                (F.col("__off") + F.col("__run")) / F.lit(int(shard_tokens))
            ),
        )
        .drop("__pid", "__run", "__off")
    )
