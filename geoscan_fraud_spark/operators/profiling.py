"""Corpus profiling with mergeable HLL sketches.

A 100 TB pipeline needs corpus-level statistics — docs, tokens, distinct
vocabulary — per source/language/day, continuously. Exact distinct
counts (`distinct_users_exact` registry entry) shuffle every distinct
token; at corpus scale that is a full-vocabulary shuffle per report.
The scale answer is a *mergeable sketch*: profile each batch/partition
independently into a few-KB HyperLogLog sketch (Spark's Datasketches
`hll_sketch_agg`, map-side combinable), persist the tiny profile rows,
and answer any rollup later by `hll_union_agg` over sketches — no
rescan, no token shuffle. Estimates carry ~1.6/sqrt(2^lg_k) relative
stderr (~2.5% at the default lg_k=12, ~0.8 KB per sketch).

Spark-first: everything is built-in JVM aggregate functions — the
explode is the only row-multiplier, and the sketch aggregate combines
partially on the map side so the shuffle carries one sketch per
(group, task), not tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_corpus(
    df: DataFrame,
    group_cols: list[str] | None = None,
    text_col: str = "text",
    lg_k: int = 12,
) -> DataFrame:
    """Per-group corpus profile: ``n_docs``, ``n_tokens``,
    ``distinct_tokens`` (HLL estimate) and ``token_sketch`` (the binary
    HLL sketch — keep it if the profile will ever be rolled up further;
    drop it for a human-facing report).

    Two aggregation grains share one scan each: doc-level stats come
    from a plain groupBy, the vocabulary sketch from an explode +
    `hll_sketch_agg`; the join between them is on the (low-cardinality)
    group key. ``group_cols=None`` profiles the whole corpus as one
    group (constant key)."""
    keys = list(group_cols or [])
    gb = keys if keys else [F.lit(1).alias("__g")]
    jk = keys if keys else ["__g"]

    tokens = F.split(F.col(text_col), r"\s+")
    docs = df.groupBy(*gb).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens)).alias("n_tokens"),
        F.sum(F.length(F.col(text_col))).alias("n_chars"),
    )
    tok = df.select(
        *(gb if not keys else [F.col(k) for k in keys]),
        F.explode(tokens).alias("__tok"),
    )
    vocab = tok.groupBy(*jk).agg(
        F.hll_sketch_agg("__tok", F.lit(lg_k)).alias("token_sketch")
    )
    out = docs.join(vocab, jk).withColumn(
        "distinct_tokens", F.hll_sketch_estimate("token_sketch")
    )
    if not keys:
        out = out.drop("__g")
    return out.select(
        *keys, "n_docs", "n_tokens", "n_chars", "distinct_tokens", "token_sketch"
    )


def merge_profiles(
    profiles: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Roll profile rows up to coarser groups (or one global row) WITHOUT
    touching the corpus: counts add, sketches union (`hll_union_agg` —
    the HLL union of per-batch sketches is exactly the sketch the union
    of the batches would have produced, so the estimate matches a
    from-scratch profile bit-for-bit at equal lg_k)."""
    keys = list(group_cols or [])
    gb = keys if keys else [F.lit(1).alias("__g")]
    jk = keys if keys else ["__g"]
    out = (
        profiles.groupBy(*gb)
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.hll_union_agg("token_sketch").alias("token_sketch"),
        )
        .withColumn("distinct_tokens", F.hll_sketch_estimate("token_sketch"))
    )
    if not keys:
        out = out.drop("__g")
    return out.select(
        *keys, "n_docs", "n_tokens", "n_chars", "distinct_tokens", "token_sketch"
    )


def _bin_expr(value, lo: float, hi: float, bins: int):
    """Log-spaced bin index in [0, bins+1]: 0 = underflow (< lo),
    bins+1 = overflow (>= hi), else 1 + floor(bins · log(v/lo)/log(hi/lo))."""
    import math

    span = math.log(hi / lo)
    v = value.cast("double")
    inner = (
        F.lit(1)
        + F.floor(F.log(v / F.lit(float(lo))) / F.lit(span) * F.lit(bins))
    ).cast("int")
    return (
        F.when(v < lo, F.lit(0))
        .when(v >= hi, F.lit(bins + 1))
        .otherwise(F.least(inner, F.lit(bins)))  # guard v==hi-ulp rounding
    )


def histogram_profile(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    lo: float = 1.0,
    hi: float = 1e6,
    bins: int = 64,
) -> DataFrame:
    """Per-group MERGEABLE histogram of a positive metric (doc lengths,
    token counts, file sizes): ``hist`` is an array of bins+2 counts
    (log-spaced between ``lo`` and ``hi``, plus underflow/overflow
    slots). Mergeable by vector addition (`merge_histogram_profiles`),
    so per-batch histograms roll up to any coarser grouping with no
    rescan — the quantile analog of the HLL vocabulary sketch (Spark's
    exact/approx percentiles do not merge across persisted rows).
    Log-spacing bounds relative quantile error at ~(hi/lo)^(1/bins)-1
    (~24% per bin edge at the defaults; raise ``bins`` for tighter).

    One partial-aggregating groupBy: each row maps to a bin (map-only
    expression) and the count vector combines map-side."""
    keys = list(group_cols or [])
    gb = keys if keys else [F.lit(1).alias("__g")]
    b = _bin_expr(F.col(value_col), lo, hi, bins)
    counts = df.groupBy(*gb, b.alias("__bin")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    jk = keys if keys else ["__g"]
    # densify to a fixed-width vector so merging is a plain zip_with
    out = counts.groupBy(*jk).agg(
        F.aggregate(
            F.collect_list(F.struct("__bin", "__n")),
            F.array_repeat(F.lit(0).cast("long"), bins + 2),
            lambda acc, x: F.transform(
                acc,
                lambda c, i: F.when(i == x["__bin"], c + x["__n"]).otherwise(c),
            ),
        ).alias("hist")
    )
    if not keys:
        out = out.drop("__g")
    return out.select(*keys, "hist")


def merge_histogram_profiles(
    profiles: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Roll histogram rows up to coarser groups (or one global row):
    count vectors add element-wise — the merged histogram is exactly the
    histogram a from-scratch pass would build."""
    keys = list(group_cols or [])
    gb = keys if keys else [F.lit(1).alias("__g")]
    out = profiles.groupBy(*gb).agg(
        F.aggregate(
            F.collect_list("hist"),
            F.transform(F.first("hist"), lambda x: F.lit(0).cast("long")),
            lambda acc, h: F.zip_with(acc, h, lambda a, b: a + b),
        ).alias("hist")
    )
    if not keys:
        out = out.drop("__g")
    return out.select(*keys, "hist")


def histogram_quantile(
    hist: list[int], q: float, lo: float = 1.0, hi: float = 1e6
) -> float:
    """Estimate the q-quantile from a `histogram_profile` count vector
    (driver-side helper over the tiny profile row): returns the
    geometric midpoint of the bin containing the quantile rank;
    underflow/overflow clamp to lo/hi."""
    import math

    bins = len(hist) - 2
    total = sum(hist)
    if total == 0:
        raise ValueError("empty histogram")
    rank = q * total
    acc = 0
    for i, c in enumerate(hist):
        acc += c
        if acc >= rank and c > 0:
            if i == 0:
                return lo
            if i == bins + 1:
                return hi
            span = math.log(hi / lo) / bins
            left = math.log(lo) + (i - 1) * span
            return math.exp(left + span / 2)
    return hi


def profile_drift(
    a: DataFrame, b: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Compare two profile relations (from `profile_corpus` /
    `merge_profiles`) WITHOUT touching either corpus — the monitoring
    primitive for ingest drift ("did yesterday's crawl shift?").

    Per matched group: count ratios, plus vocabulary overlap estimated
    by HLL inclusion-exclusion — ``|A∩B| ≈ |A| + |B| - |A∪B|`` with the
    union sketch from `hll_union_agg`, so the only inputs are the
    persisted few-KB sketches. ``vocab_jaccard`` is the intersection
    over the union; ``vocab_novel_b`` estimates the fraction of B's
    vocabulary unseen in A (new tokens — the drift signal). Estimates
    inherit HLL stderr (~2.5% at lg_k=12); intersection error grows when
    the overlap is small relative to either set — treat near-zero
    Jaccards as "disjoint", not as precise values. Outer-joined groups
    missing from one side report NULL ratios."""
    keys = list(group_cols or [])
    jk = keys if keys else ["__g"]
    pa = (a if keys else a.withColumn("__g", F.lit(1))).select(
        *jk,
        F.col("n_docs").alias("docs_a"),
        F.col("n_tokens").alias("tokens_a"),
        F.col("distinct_tokens").alias("vocab_a"),
        F.col("token_sketch").alias("sk_a"),
    )
    pb = (b if keys else b.withColumn("__g", F.lit(1))).select(
        *jk,
        F.col("n_docs").alias("docs_b"),
        F.col("n_tokens").alias("tokens_b"),
        F.col("distinct_tokens").alias("vocab_b"),
        F.col("token_sketch").alias("sk_b"),
    )
    joined = pa.join(pb, jk, "full_outer")
    union_est = F.hll_sketch_estimate(
        F.hll_union(F.col("sk_a"), F.col("sk_b"))
    )
    inter = F.greatest(
        F.col("vocab_a") + F.col("vocab_b") - union_est, F.lit(0.0)
    )
    out = joined.select(
        *jk,
        "docs_a",
        "docs_b",
        F.round(F.col("docs_b") / F.col("docs_a"), 4).alias("docs_ratio"),
        F.round(F.col("tokens_b") / F.col("tokens_a"), 4).alias("tokens_ratio"),
        F.col("vocab_a"),
        F.col("vocab_b"),
        F.round(inter / union_est, 4).alias("vocab_jaccard"),
        F.round(
            F.greatest(F.lit(0.0), F.lit(1.0) - inter / F.col("vocab_b")), 4
        ).alias("vocab_novel_b"),
    )
    return out.drop("__g") if not keys else out


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable per-token frequency estimates
# ---------------------------------------------------------------------------


def countmin_profile(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(row, col, c): a count-min sketch of the corpus token frequencies
    in SPARSE RELATIONAL form — the heavy-hitter complement to the HLL
    vocabulary sketch (`profile_corpus` answers "how many distinct
    tokens"; this answers "roughly how often does token X occur" for ANY
    later-chosen X, in ``depth * width`` cells regardless of corpus
    size).

    Relational trick: a count-min cell is just a grouped count over
    (hash row, hash column), so the sketch build is one explode + ONE
    groupBy with map-side combine — no custom aggregation state, no UDF
    — and the persisted sketch is at most depth*width tiny rows. Merge =
    union + re-sum (`merge_countmin`), exact, associative. Estimates
    (`countmin_estimate`) take the MIN over the depth rows: always >=
    the true count, over by at most ~2N/width with probability
    1 - 2^-depth (the standard CM bound; N = total token occurrences).
    Hash family (``hash_fn``): 'xxhash64' (JVM-native default —
    xxhash64(token, row ^ seed)) or 'md5' (the oracle-portable 60-bit
    md5-slice family every portable dedup path uses — same cells in any
    engine with md5)."""
    cells = []
    tok = df.select(
        F.explode(F.split(F.col(text_col), r"\s+")).alias("t")
    ).filter(F.col("t") != "")
    for r in range(depth):
        cells.append(
            tok.select(
                F.lit(r).alias("row"),
                _cm_col(F.col("t"), r, width, seed, hash_fn).alias("col"),
            )
        )
    u = cells[0]
    for c in cells[1:]:
        u = u.unionByName(c)
    return u.groupBy("row", "col").agg(F.count(F.lit(1)).alias("c"))


def _cm_col(t, r: int, width: int, seed: int, hash_fn: str):
    """Count-min column index for hash row ``r`` — shared by build and
    probe so the two can never drift."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(t, F.lit(r ^ seed)), F.lit(width))
    if hash_fn == "md5":
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(t, F.lit(f"|{r ^ seed}"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(width),
        )
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def merge_countmin(sketches: list[DataFrame]) -> DataFrame:
    """Union sparse count-min relations (same depth/width/seed) and
    re-sum cells — the merged sketch is IDENTICAL to one built over the
    concatenated corpora (counts are additive per cell)."""
    if not sketches:
        raise ValueError("sketches must be non-empty")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("row", "col").agg(F.sum("c").alias("c"))


def countmin_estimate(
    sketch: DataFrame,
    tokens: list[str],
    depth: int = 4,
    width: int = 1024,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(token, est): point frequency estimates for ``tokens`` from a
    sparse count-min relation. The probe set is a literal relation
    (tokens the caller is asking about — bounded), exploded into its
    (row, col) cells and joined against the sketch; absent cells count
    0. ``depth/width/seed/hash_fn`` must match the build."""
    spark = sketch.sparkSession
    probes = spark.createDataFrame([(t,) for t in tokens], ["token"])
    cells = probes.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_col(
                            F.col("token"), r, width, seed, hash_fn
                        ).alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select("token", F.col("p.row").alias("row"), F.col("p.col").alias("col"))
    joined = cells.join(F.broadcast(sketch), ["row", "col"], "left_outer")
    return joined.groupBy("token").agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est")
    )
