"""Training-batch assembly operators: token-budget sequence packing,
exact stratified sampling, and corpus vocabulary — the step between a
deduped/filtered corpus and a tokenized training run.

Scale design (100 TB): packing is embarrassingly parallel across shards —
a global optimal bin packing is NP-hard and pointless for training data,
so documents are hashed into `n_shards` independent shards and each shard
packs greedily (best-fit-decreasing, capacity-indexed) inside one
`applyInPandas` group. One shuffle total; bin ids are (shard, local_bin)
and therefore globally unique without any coordination. Waste is bounded:
BFD, like FFD, is an 11/9 OPT + O(1) approximation per shard, and shards
only lose the tail bins (<= 1 underfull bin per shard).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geoscan_fraud_spark.operators.text import tokens as _tokens


def pack_documents(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_shards: int = 256,
) -> DataFrame:
    """Assign each document to a training bin of at most ``budget`` tokens.

    Returns (id, n_tokens, bin_id) with ``bin_id = shard * 2^32 +
    local_bin``. Documents longer than ``budget`` get a singleton bin
    (the downstream tokenizer truncates; dropping them silently would
    bias the corpus).

    The pandas kernel sees one hash shard at a time — shard size is
    corpus_size / n_shards, tunable so a shard's (id, n_tokens) pairs fit
    executor memory comfortably (two small columns, not the text).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        shard = int(pdf["__shard"].iloc[0])
        # best-fit-decreasing; stable deterministic order via (tokens desc, id).
        # Capacity-indexed: `open_bins` is a sorted list of (remaining,
        # bin_idx), so finding the tightest fitting bin is a bisect, not a
        # linear scan — O(docs * log bins) compares instead of the FFD
        # O(docs * bins) tail (list insort is a C memmove; fine at the
        # ~10M-docs-per-shard sizes n_shards is tuned for).
        pdf = pdf.sort_values(["__n", id_col], ascending=[False, True])
        open_bins: list[tuple[int, int]] = []  # sorted (remaining, bin_idx)
        n_bins = 0
        assigned: list[int] = []
        for n in pdf["__n"]:
            n = int(n)
            placed = None
            if n <= budget:
                i = bisect.bisect_left(open_bins, (n, -1))
                if i < len(open_bins):
                    rem, placed = open_bins.pop(i)
                    bisect.insort(open_bins, (rem - n, placed))
            if placed is None:
                placed = n_bins
                n_bins += 1
                bisect.insort(open_bins, (max(budget - n, 0), placed))
            assigned.append(placed)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "n_tokens": pdf["__n"].astype("int64").to_numpy(),
                "bin_id": [(shard << 32) | b for b in assigned],
            }
        )

    keyed = df.select(
        F.col(id_col),
        F.col(token_col).cast("long").alias("__n"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).alias("__shard"),
    )
    return keyed.groupBy("__shard").applyInPandas(
        pack, f"{id_col} long, n_tokens long, bin_id long"
    )


def pack_stats(packed: DataFrame, budget: int) -> DataFrame:
    """One-row utilization summary of a `pack_documents` result:
    (n_docs, n_bins, fill_rate, p50_fill, max_bin_tokens)."""
    per_bin = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens"), F.count(F.lit(1)).alias("n_docs")
    )
    return per_bin.agg(
        F.sum("n_docs").alias("n_docs"),
        F.count(F.lit(1)).alias("n_bins"),
        (F.sum("bin_tokens") / (F.count(F.lit(1)) * F.lit(budget))).alias("fill_rate"),
        F.expr("percentile_approx(bin_tokens, 0.5)").alias("p50_bin_tokens"),
        F.max("bin_tokens").alias("max_bin_tokens"),
    )


def stratified_sample_exact(
    df: DataFrame,
    strata_cols: Iterable[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly ``min(n, stratum_size)`` rows per stratum, deterministic
    across runs and partitionings: rank by a 64-bit hash of the id within
    each stratum and keep the first n.

    Unlike `DataFrame.sampleBy` (Bernoulli: approximate counts, fraction
    per key must be known up front) this is exact and needs no per-key
    fractions — one window shuffle keyed by the strata, which is the
    minimum possible for per-stratum semantics.
    """
    strata = list(strata_cols)
    w = Window.partitionBy(*strata).orderBy(
        F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def sample_mixture(
    df: DataFrame,
    weights: dict[str, float],
    total_n: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic domain-mixture sampling: draw ``total_n`` documents
    with per-source target proportions ``weights`` (e.g. {"web": .6,
    "code": .3, "books": .1}) — the corpus-mixing step of a training-data
    pipeline.

    Exact and reproducible where `sampleBy` is Bernoulli-approximate:
    per-source quotas are fixed on the driver (largest-remainder rounding
    so quotas sum to exactly ``total_n``), then one hash-ranked window per
    source takes exactly min(quota, source_size) rows — the same single
    shuffle as `stratified_sample_exact`. Sources absent from ``weights``
    are excluded. A quota larger than a source is NOT rebalanced onto
    other sources (silent rebalancing would skew the mixture; inspect the
    per-source counts if under-delivery matters).
    """
    if total_n < 0:
        raise ValueError(f"total_n must be >= 0, got {total_n}")
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be non-negative, got {weights}")
    wsum = sum(weights.values())
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    exact = {s: total_n * w / wsum for s, w in weights.items()}
    quotas = {s: int(x) for s, x in exact.items()}
    # largest remainder, source name as deterministic tiebreaker
    for s, _ in sorted(
        exact.items(), key=lambda kv: (-(kv[1] - int(kv[1])), kv[0])
    )[: total_n - sum(quotas.values())]:
        quotas[s] += 1

    quota_col = F.create_map(
        *[F.lit(x) for kv in quotas.items() for x in kv]
    )[F.col(source_col)]
    w = Window.partitionBy(source_col).orderBy(
        F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc()
    )
    return (
        df.filter(F.col(source_col).isin(list(quotas)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota_col)
        .drop("__rn")
    )


def assign_splits(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's id hashes to a
    point in [0, 1) and lands in the split whose cumulative-weight
    interval contains it. Map-only (no shuffle, no state), reproducible
    across runs, partitionings, and backfills — a document keeps its
    split forever, which is the property a random `df.sample` split
    loses the moment the corpus is re-partitioned or appended to.

    ``salt`` versions the assignment: changing it re-rolls every document
    (e.g. for a fresh holdout) without touching the data.
    """
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    # 53-bit mantissa-exact uniform in [0, 1)
    u = (
        F.shiftrightunsigned(F.xxhash64(F.col(id_col), F.lit(salt)), 11)
        / F.lit(float(1 << 53))
    )
    expr, acc = None, 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        clause = F.when(u < acc, name)
        expr = clause if expr is None else expr.when(u < acc, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)


def token_frequencies(
    df: DataFrame,
    text_col: str = "text",
    k: int | None = None,
    lowercase: bool = True,
    id_col: str | None = None,
) -> DataFrame:
    """Corpus vocabulary: (token, freq, doc_freq), optionally top-k by
    frequency (ties broken by token for determinism).

    ``id_col``: stable document identity for doc_freq. When given,
    duplicate-text rows sharing an id count once and the result is
    reproducible across engines/runs; when None a synthetic per-row id
    stands in (each row counts as its own document).

    explode → groupBy(token) is the canonical two-phase aggregate: Spark's
    partial aggregation combines map-side, so the shuffle carries one row
    per distinct token per task, not one per occurrence. The top-k is a
    TakeOrdered (no global sort materialization).
    """
    tok = F.explode(_tokens(F.col(text_col))).alias("token")
    doc = (
        F.col(id_col) if id_col is not None else F.monotonically_increasing_id()
    )
    toks = df.select(F.col(text_col), doc.alias("__doc"))
    exploded = toks.select("__doc", tok).filter(F.length("token") > 0)
    if lowercase:
        exploded = exploded.withColumn("token", F.lower(F.col("token")))
    vocab = exploded.groupBy("token").agg(
        F.count(F.lit(1)).alias("freq"),
        F.countDistinct("__doc").alias("doc_freq"),
    )
    if k is not None:
        vocab = vocab.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(k)
    return vocab


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into word chunks of at most ``max_tokens`` with
    ``overlap`` words carried between consecutive chunks — the
    context-window chunking step between a cleaned corpus and tokenized
    sequences. Output: (id, chunk_idx, chunk_text, n_tokens).

    Native sequence/slice/posexplode only — map-side, no shuffle, no
    Python: chunk starts are `i * (max_tokens - overlap)`, the final
    chunk is the only one shorter than ``max_tokens``, and a document
    shorter than one window yields exactly one chunk.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap} for {max_tokens}"
        )
    stride = max_tokens - overlap
    # single-sourced tokenization contract (operators/text.tokens).
    # Staged as a REAL column before the per-chunk lambda:
    # Catalyst re-evaluates non-trivial lambda subexpressions PER
    # ELEMENT, so the nested form re-tokenized the document for every
    # chunk — O(T^2 / stride) per doc, a real cost for the long
    # documents this operator exists to split (same bug class as
    # text._with_winnow_mins; the aliases are multiply-referenced so
    # CollapseProject keeps the projection materialized).
    toks = F.col("__ck_toks")
    n = F.size(toks)
    # ceil((n - overlap) / stride), at least 1; an empty/whitespace-only
    # document yields ZERO chunks (F.split of '' is [''], which would
    # otherwise become a phantom 1-token chunk)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1)
    )
    chunks = F.when(n == 0, F.array().cast("array<array<string>>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(toks, i * stride + 1, max_tokens),
        )
    )
    return df.withColumn(
        "__ck_toks", F.filter(_tokens(F.col(text_col)), lambda t: F.length(t) > 0)
    ).select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "__c"),
    ).select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", F.col("__c")).alias("chunk_text"),
        F.size(F.col("__c")).alias("n_tokens"),
    )


def temperature_weights(
    sizes: dict[str, float], temperature: float = 1.0
) -> dict[str, float]:
    """Temperature-scaled mixture weights: w_s ∝ size_s^(1/T), normalized
    to sum 1 — the multilingual/multi-domain rebalancing rule (T=1 keeps
    natural proportions; T→∞ approaches uniform; T<1 sharpens toward the
    biggest sources). Driver-side arithmetic over the per-source size
    dict (vocabulary-of-sources-sized, never data-sized)."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    powered = {
        s: float(n) ** (1.0 / temperature) for s, n in sizes.items() if n > 0
    }
    z = sum(powered.values())
    if z == 0:
        raise ValueError("all sources are empty")
    return {s: v / z for s, v in powered.items()}
