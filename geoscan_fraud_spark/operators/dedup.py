"""Document deduplication — exact, MinHash+LSH, SimHash, embedding LSH.

Beyond-reference operators (SURVEY §2.10) for large-scale training-data
pipelines, built on the same machinery as the geo engine: the band-bucket
equi-join is the cell-bucketed spatial join J4 generalized (compare only
co-bucketed candidates, "ignoring 99.99% of the dataset"), and duplicate
groups are resolved with the same DataFrame connected-components operator
the clusterer uses.

Everything up to the pair verification is native column expressions
(higher-order array functions + xxhash64) — no Python in the hot path; at
100 TB the only shuffles are (a) the band-bucket join keyed by
(band, hash) — high cardinality, naturally balanced — and (b) the
candidate-pair verification join, whose input is already ~0.01% of the
cross product.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geoscan_fraud_spark.functions.sqltext import _dlit, _ident
from geoscan_fraud_spark.operators.components import connected_components


def word_grams(text_col, n: int = 3):
    """ALL word n-grams (with multiplicity, in position order) as
    array<string> (native, no UDF). Shorter-than-n documents yield one
    gram holding the whole text.

    Built with `zip_with` over shifted copies of the word array: each
    input array is evaluated once per level. The obvious alternative —
    `transform(sequence(0, L-n), i -> concat_ws(slice(words, i+1, n)))` —
    inlines the `split` into the lambda, so Catalyst re-evaluates it per
    gram: O(L^2) per document (measured ~15x slower on 50-word docs)."""
    words = F.split(text_col, r"\s+")
    if n <= 1:
        return words
    grams = words
    for j in range(1, n):
        shifted = F.slice(words, j + 1, F.greatest(F.size(words) - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    # zip_with pads the shorter side with null -> null grams at the tail
    grams = F.filter(grams, lambda g: g.isNotNull())
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array(F.concat_ws(" ", words))
    )


def word_shingles(text_col, n: int = 3):
    """Distinct word n-grams as array<string> — `word_grams` deduplicated
    (the shingle-set form the MinHash/Jaccard family consumes)."""
    return F.array_distinct(word_grams(text_col, n))


#: Modulus of the portable integer MinHash family: 2^61 - 1 (Mersenne).
#: a*hlo + b*hhi with 31-bit multipliers and 30-bit halves stays < 2^63,
#: so the arithmetic is exact int64 in BOTH Spark and DuckDB (no overflow,
#: no engine-specific wraparound) — the precondition for oracle replay.
MINHASH_MOD = (1 << 61) - 1


def minhash_mix_params(num_hashes: int) -> tuple[list[int], list[int], list[int]]:
    """Deterministic constants (a_i, b_i, c_i) for the portable md5
    signature family — SHARED between the Spark plan and the DuckDB
    oracle-SQL generator (harness_pipeline), like the IVF centroid
    literals: 31-bit odd multipliers a_i/b_i and a 60-bit XOR premix c_i,
    each from an independent md5 digest of the index (constant generation
    happens in Python; only the literals reach the plans).

    The XOR premix is load-bearing: without it, `(a*hlo + b*hhi) % M` is
    monotone in the digest halves — a shingle whose digest happens to
    have small halves wins the min under EVERY (a, b), so the 48 hash
    functions share argmins, bands stop being independent, and measured
    LSH pair recall drops from 0.90 to 0.71 on the harness workload.
    XORing the digest with an independent c_i per index re-randomizes the
    ordering, restoring recall (0.898 measured vs 0.904 for per-shingle
    md5 rehashing)."""
    a_mul, b_mul, c_xor = [], [], []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash-mix-{i}".encode()).digest()
        a_mul.append((int.from_bytes(d[:4], "big") & 0x7FFFFFFF) | 1)
        b_mul.append((int.from_bytes(d[4:8], "big") & 0x7FFFFFFF) | 1)
        c_xor.append(int.from_bytes(d[8:16], "big") & ((1 << 60) - 1))
    return a_mul, b_mul, c_xor


#: `_fan_out_small` sizing knobs: the fan-out
#: target is capped by the size estimate so a stale/small estimate on a
#: 10k-core cluster can never shatter a <64 MB relation into 10k
#: near-empty partitions — but floored at 32, because the stages this
#: guards are CPU-QUADRATIC per input byte (shingling + H-way hashing),
#: where bytes under-measure work (the 5 000-doc fixture estimates
#: ~250 KB yet costs ~2 s of single-core signature compute; the measured
#: A/B wins came from spreading exactly that). local[32] keeps target =
#: 32, bit-identical to the uncapped fan-out's behavior.
_FAN_OUT_MIN_PARTS = 32
_FAN_OUT_BYTES_PER_PART = 1024 * 1024
#: Catalyst reports "no idea" as defaultSizeInBytes (Long.MaxValue) —
#: anything past 2^60 bytes (an exabyte) is that sentinel in practice
_FAN_OUT_UNKNOWN_EST = 1 << 60
#: unknown-size inputs (RDD-backed plans, see below) fan out to at most
#: this many partitions: enough to unstarve a trigger-bounded
#: micro-batch on any cluster, bounded enough that a tiny batch never
#: shatters
_FAN_OUT_UNKNOWN_PARTS = 64


def _fan_out_target(p: int, est: int) -> int:
    """Target partition count for a known size estimate ``est`` on
    ``p``-way parallelism (pure function — unit-tested)."""
    return min(p, max(_FAN_OUT_MIN_PARTS, est // _FAN_OUT_BYTES_PER_PART))


def _fan_out_small(df: DataFrame) -> DataFrame:
    """Spread a small or unsplittable input across the cluster before a
    CPU-heavy per-row stage (guide §2.5 "input skew" / §6): parquet
    cannot split below row-group granularity, so a single-row-group (or
    generally sub-split-size) relation otherwise runs the whole
    signature pass on 1-2 cores — measured 2.09 s → 1.54 s warm (2.3×
    cold) for the 48-hash md5 pass over the 5 000-doc fixture, which
    planned 2 tasks on 32 cores. Decision is a driver-only optimizer
    size estimate (no job, no execution): relations the optimizer
    already believes are big enough to parallelize pass through
    untouched, so at production scale this is a no-op and never inserts
    a shuffle of real corpus bytes. Round-robin repartition keeps rows
    intact; every consumer here is partition-order-independent
    (signatures/band hashes are row-local, aggregates associative).

    Two refinements: (a) the target partition count is size-capped
    (`_fan_out_target`) instead of a bare
    ``defaultParallelism``; (b) RDD-backed plans — foreachBatch hands
    the sink a LogicalRDD snapshot, whose size estimate is the
    defaultSizeInBytes SENTINEL, not a measurement — previously never
    fanned out at all, which left the per-micro-batch signature pass of
    every streaming ingest sink at the SOURCE's partition granularity
    (1-2 tasks for a one-file batch; measured ~2 s single-core per
    batch at the fixture shape). An unknown-size input now fans out by
    the one signal it does carry — its current partition count — to at
    most `_FAN_OUT_UNKNOWN_PARTS`; micro-batches are trigger-bounded
    by the sinks' contract, and for a genuinely huge RDD-backed batch
    spreading the CPU-bound signature work across 64 partitions still
    beats computing it on the source's task count."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if p <= 1:
        return df
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if est >= _FAN_OUT_UNKNOWN_EST:
        # no estimate (RDD-backed plan): unstarve by partition count
        target = min(p, _FAN_OUT_UNKNOWN_PARTS)
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    elif est < 64 * 1024 * 1024:
        return df.repartition(_fan_out_target(p, est))
    return df


def minhash_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    sig_hash: str = "xxhash64",
) -> DataFrame:
    """(id, mh_0..mh_{H-1}) via explode + codegen'd min-aggregates.

    Shingles explode to rows; each of the H seed-hashes is a plain
    `min(hash(shingle, seed))` aggregate — whole-stage codegen with
    map-side partial aggregation, so the shuffle carries H values per doc
    regardless of document length. This is the 100 TB path.

    ``sig_hash``: 'xxhash64' (default — JVM-native longs, the scale path)
    or 'md5' (ONE portable 60-bit digest per shingle — `conv(substr(
    md5(shingle),1,15),16,10)`, the same trick the simhash tables use —
    then H variants from a universal integer hash family over the digest
    halves, all int64 arithmetic chosen to never overflow so Spark and
    DuckDB compute bit-identical longs; this is what lets DuckDB oracle
    the full LSH pipeline without paying H string-md5s per shingle)."""
    sh = _fan_out_small(df).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    # hash the shingle string ONCE, then derive the H signature hashes by
    # seed-mixing the first digest — not by re-hashing the string H times.
    # The H aggregate expressions are built as JVM-parsed `F.expr` strings
    # (guide §5 — driver overhead): the Column-operator form made
    # ~10 py4j round-trips per hash function (~0.7 s of pure driver-side
    # construction per invocation at H=48, re-paid by every streaming
    # micro-batch that rebuilds the gate plan); one parsed string per
    # aggregate produces the IDENTICAL expression tree (integer literal
    # typing and operator associativity match the Column form — parity
    # pinned in tests/test_round13_fixes.py, and the md5 family stays
    # oracle-hash-exact).
    if sig_hash == "xxhash64":
        sh = sh.select("id", F.xxhash64("shingle").alias("h"))
        aggs = [
            F.min(F.expr(f"xxhash64(h, {i})")).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    elif sig_hash == "md5":
        sh = sh.select(
            "id",
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        a_mul, b_mul, c_xor = minhash_mix_params(num_hashes)
        lo_mask = (1 << 30) - 1
        aggs = [
            F.min(
                F.expr(
                    f"(({a_mul[i]} * ((h ^ {c_xor[i]}) & {lo_mask})) + "
                    f"({b_mul[i]} * shiftright(h ^ {c_xor[i]}, 30)) + {i}) "
                    f"% {MINHASH_MOD}"
                )
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"sig_hash must be 'xxhash64' or 'md5', got {sig_hash!r}")
    return sh.groupBy("id").agg(*aggs)


def exact_dedup(df: DataFrame, cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per exact duplicate group (hash-groupBy path)."""
    w = Window.partitionBy(*cols).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _cap_buckets(df: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Drop rows in buckets larger than ``max_bucket`` (hot-bucket guard;
    used by the simhash / winnowing / embedding-LSH / incremental-store
    self-joins — the MinHash banding path uses the strictly-better
    `_star_capped_buckets` instead).

    A duplicate-heavy corpus puts k near-identical docs into one LSH
    bucket and the self-join emits k^2/2 candidate pairs BEFORE any
    filter — AQE skew splitting rebalances partitions but cannot remove
    the quadratic pair count. Capping bucket size bounds the join output
    at max_bucket^2/2 per bucket, at a documented recall cost: a pair
    whose every shared bucket is oversized is missed (with b independent
    bands that requires ALL its buckets hot, so genuine near-dup pairs of
    low-multiplicity docs are rarely affected; exact duplicates should be
    pre-collapsed upstream — see ``minhash_dedup`` — which is what keeps
    normal buckets small in the first place).

    One window count over the bucket keys — the same partitioning the
    following self-join shuffles on, so the exchange is shared."""
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )


def _star_capped_buckets(
    banded: DataFrame, keys: list[str], max_bucket: int
) -> tuple:
    """Hot-bucket guard for the CONNECTED-COMPONENTS candidate join:
    split the banded rows into (small_buckets, star_edges). Buckets at or
    under ``max_bucket`` keep exact all-pairs LSH semantics (the common
    case — the window count shares the partitioning the self-join
    shuffles on). Buckets OVER it emit a linear STAR instead: every
    member pairs with the bucket's min-id hub, k-1 edges instead of
    k^2/2.

    Why star beats drop here (the skew scale rung caught the
    default-unguarded path going quadratic at 29x the uniform wall on a
    planted 20% near-dup family): downstream consumers verify candidate
    pairs and feed CONNECTED COMPONENTS, where a verified star over a
    genuine near-dup family yields the same component as the verified
    clique — the family still collapses. Dropping the bucket (the
    `_cap_buckets` policy) exempts exactly the flood that most needs
    deduping. Recall vs all-pairs: a member joins the family only
    through the hub, so a member similar to its neighbors but NOT to
    the hub under-links (bounded by the verification threshold);
    strictly more recall than drop (star edges ⊃ nothing), strictly
    bounded cost (k-1 vs k^2/2). Precision is untouched — every star
    edge still goes through the same Jaccard verification."""
    w = Window.partitionBy(*keys)
    tagged = banded.withColumn("__bsz", F.count(F.lit(1)).over(w)).withColumn(
        "__hub", F.min("id").over(w)
    )
    small = tagged.filter(F.col("__bsz") <= max_bucket).drop("__bsz", "__hub")
    star = (
        tagged.filter(
            (F.col("__bsz") > max_bucket) & (F.col("id") != F.col("__hub"))
        )
        # hub is the bucket min, so id_a < id_b holds by construction —
        # the same canonical orientation the self-join emits
        .select(F.col("__hub").alias("id_a"), F.col("id").alias("id_b"))
    )
    return small, star


def _sig_candidate_pairs(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    sig_hash: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band-bucket candidate pairs from a wide (id, mh_*) signature
    table — the shared back half of `minhash_candidate_pairs`, split out
    so `minhash_dedup`'s signature-collapse path can band an already-
    collapsed signature set without recomputing it."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    r = num_hashes // bands
    if sig_hash == "md5":
        band_hashes = F.array(
            *[
                F.md5(F.concat_ws("|", *[F.col(f"mh_{b * r + j}") for j in range(r)]))
                for b in range(bands)
            ]
        )
    else:
        band_hashes = F.array(
            *[
                F.xxhash64(*[F.col(f"mh_{b * r + j}") for j in range(r)])
                for b in range(bands)
            ]
        )
    # the self-join's two sides are canonically identical up to aliasing, so
    # Spark's ReusedExchange computes the signature pipeline once; an
    # explicit lazy persist here measured SLOWER (concurrent branches
    # serialize on cache-partition locks under AQE)
    banded = sig.select(
        "id", F.posexplode(band_hashes).alias("band", "bh")
    )
    star = None
    if max_bucket is not None:
        banded, star = _star_capped_buckets(banded, ["band", "bh"], max_bucket)
    a = banded.select(F.col("band"), F.col("bh"), F.col("id").alias("id_a"))
    b = banded.select(F.col("band"), F.col("bh"), F.col("id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    sig_hash: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates: (id_a, id_b) sharing >=1 signature band.

    bands x rows = num_hashes; collision prob ~ 1-(1-j^r)^b for Jaccard j.
    ``max_bucket`` (optional): band buckets holding more than that many
    docs emit a linear min-id STAR instead of the quadratic all-pairs
    self-join (`_star_capped_buckets` — the hot-bucket guard that
    keeps a near-dup-flooded corpus from going quadratic while the flood
    still collapses through its hub in connected components).
    """
    sig = minhash_signature_table(df, text_col, id_col, n, num_hashes, sig_hash)
    return _sig_candidate_pairs(sig, num_hashes, bands, sig_hash, max_bucket)


def jaccard_verified_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs -> (id_a, id_b, jaccard).

    Shingles only the docs that appear in a candidate pair (left-semi
    restriction) — after LSH that is a tiny fraction of the corpus, and
    at 100 TB re-shingling every document here would dwarf the join."""
    ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # guide §2.5: the shingle+verify compute otherwise runs at the
    # source scan's task granularity (measured: a 4-task 2.4 s job inside
    # dedup_minhash on 32 cores — the semi-join is broadcast, so it stays
    # in the scan stage). Fanning out the semi-joined docs BEFORE the
    # shingle select spreads the CPU-heavy set ops, and the repartition
    # exchange is identical under both join branches below, so Spark
    # reuses it — the candidate docs are shingled once, not twice. Size-
    # estimate-gated: a no-op when the optimizer believes the relation
    # is big (at scale candidates are a tiny semi-join output anyway).
    sh = _fan_out_small(df.join(ids, id_col, "left_semi")).select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), n).alias("sh")
    )
    return (
        candidates.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _component_winners_drop(
    df: DataFrame,
    cc: DataFrame,
    id_col: str,
    text_col: str,
    keep: str,
    keep_score_col: str | None,
) -> DataFrame:
    """One-column (id) relation of CC members that LOSE under the
    representative policy: 'min_id' keeps the component-minimum id (the
    label itself — no extra join), 'longest' keeps the member with the
    longest text, 'score' the member with the highest ``keep_score_col``;
    both break ties by min id, and NULL stats rank below every real
    value. The stat join touches only CC members (documents in any
    duplicate cluster — a tiny fraction of the corpus), never the full
    relation."""
    if keep == "min_id":
        return cc.filter(F.col("id") != F.col("component")).select("id")
    if keep == "longest":
        stat = F.length(F.col(text_col)).cast("double")
    elif keep == "score":
        if keep_score_col is None:
            raise ValueError("keep='score' requires keep_score_col")
        stat = F.col(keep_score_col).cast("double")
    else:
        raise ValueError(
            f"keep must be 'min_id', 'longest' or 'score', got {keep!r}"
        )
    stats = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(stat, F.lit(float("-inf"))).alias("__stat"),
    )
    m = cc.join(stats, "id")
    winners = (
        m.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("__stat")).alias("ns"), F.col("id").alias("id")
                )
            ).alias("w")
        )
        .select("component", F.col("w.id").alias("__wid"))
    )
    return (
        m.join(winners, "component")
        .filter(F.col("id") != F.col("__wid"))
        .select("id")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    sig_hash: str = "xxhash64",
    precollapse_exact: bool = True,
    max_bucket: int | None = 256,
    keep: str = "min_id",
    keep_score_col: str | None = None,
) -> DataFrame:
    """Near-dup dedup: keep one representative per duplicate cluster; the
    cluster is the connected component over verified pairs (A near B
    near C collapses to one doc even if A!~C).

    ``keep`` picks the representative: ``'min_id'`` (default — the
    deterministic baseline every oracle replays), ``'longest'`` (max
    text length — the common curation preference: near-dups usually
    differ by truncation, keep the fullest copy), or ``'score'`` (max
    ``keep_score_col``, e.g. a `quality_model` p_good — keep the
    highest-quality member). Ties break by min id. With
    ``precollapse_exact`` on, VALUE-IDENTICAL copies still collapse to
    their min-id member first — a no-op for 'longest' (equal texts have
    equal lengths) but under 'score' exact copies with different scores
    resolve to the min id; pass ``precollapse_exact=False`` when scores
    must arbitrate between byte-identical documents.

    ``precollapse_exact`` (default on) collapses value-identical texts
    to their min-id representative BEFORE the LSH self-join — the
    hot-bucket guard for the normal 100 TB case (boilerplate pages,
    mirrored docs): k exact copies share every band bucket and would
    emit k^2/2 candidate pairs; collapsed, the pair count is
    O(distinct^2). The collapse is engineered to cost ~nothing on a
    dup-free corpus: the grouping digest (md5(text), the same ~2^-64
    tradeoff `exact_dedup_agg` documents) is computed MAP-SIDE in the
    scan stage, so only 40-byte (digest, id) pairs ever cross its
    shuffle; the signature table is then restricted to representatives
    by an id semi-join of ~8·H-byte signature rows. Neither the corpus
    text nor a second signature evaluation is shuffled (two earlier
    designs — min_by over full rows, and a signature-keyed collapse
    behind its own checkpoint job — each measured +25-40% wall on a
    dup-free corpus; this one is inside noise). The result is provably
    unchanged: exact copies have identical shingle sets, hence identical
    signatures and band hashes, so uncollapsed they join their
    representative's component with Jaccard 1 and CC keeps the
    component-min id — the representative the collapse kept; NULL and
    empty texts share the [''] shingle set and merge either way
    (equivalence pinned in test_round6_fixes). ``max_bucket`` (default
    256 — the skew scale rung measured the unguarded default
    going quadratic, 29x the uniform wall, on a planted 20% near-dup
    family) additionally bounds residual hot buckets
    (distinct-but-near-identical floods): oversized buckets emit a
    linear min-id star instead of all pairs (`_star_capped_buckets`),
    so the flood still collapses through its verified hub while the
    candidate count stays O(k) per hot bucket. Below the cap the
    semantics are exactly unguarded LSH — results only change for
    corpora holding >256 near-identical distinct docs in one bucket,
    where the difference is bounded under-linking of hub-dissimilar
    members (vs certain quadratic blow-up)."""
    if precollapse_exact:
        # (digest, id) pairs only — the digest is evaluated in the scan
        # stage and collapses map-side. The representative-id list is
        # ids-only (8 bytes/doc), so the lineage cut is nearly free and
        # lets both the candidate job and the final keep-join read it
        # without re-evaluating the input.
        # 128-bit digest as TWO independent xxhash64s: one 64-bit key
        # risks silent false merges at corpus scale (birthday bound
        # ~hundreds of collisions at 10^11 docs), and md5 measured ~1 s
        # slower here — the digest never leaves the engine, so JVM-native
        # hashing is free to replace the portable one
        rep_ids = (
            df.select(
                F.xxhash64(F.col(text_col)).alias("__dg1"),
                F.xxhash64(F.col(text_col), F.lit(1)).alias("__dg2"),
                F.col(id_col).alias("id"),
            )
            .groupBy("__dg1", "__dg2")
            .agg(F.min("id").alias("id"))
            .select("id")
            .localCheckpoint(eager=True)
        )
        # restrict BEFORE the signature table: Catalyst does not push a
        # left-semi below the explode+aggregate (verified on the optimized
        # plan), so filtering after it would still shingle and hash every
        # exact copy — the cost the guard exists to avoid
        df_reps = df.join(
            rep_ids.select(F.col("id").alias(id_col)), id_col, "left_semi"
        )
        sig = minhash_signature_table(
            df_reps, text_col, id_col, n, num_hashes, sig_hash
        )
        cand = _sig_candidate_pairs(
            sig, num_hashes, bands, sig_hash, max_bucket
        ).localCheckpoint(eager=True)
        pairs = jaccard_verified_pairs(df, cand, text_col, id_col, n, threshold)
        cc = connected_components(pairs, "id_a", "id_b")
        # survivors = representatives not dropped by the policy;
        # everything else (policy-dropped reps AND the exact copies that
        # never entered the pipeline) falls out of the closing semi-join
        kept = rep_ids.join(
            _component_winners_drop(
                df, cc, id_col, text_col, keep, keep_score_col
            ),
            "id",
            "left_anti",
        )
        return df.join(
            kept.select(F.col("id").alias(id_col)), id_col, "left_semi"
        )
    # materialize the candidate list ONCE behind a lineage cut: it feeds the
    # id-restriction union (twice), the verify join, and (via pairs) both
    # halves of the CC edge list — recomputing the LSH self-join for each
    # would be catastrophic at scale, and a lazy persist measured slower
    # locally (branches serialize on cache locks under AQE)
    cand = minhash_candidate_pairs(
        df, text_col, id_col, n, num_hashes, bands, sig_hash, max_bucket
    ).localCheckpoint(eager=True)
    pairs = jaccard_verified_pairs(df, cand, text_col, id_col, n, threshold)
    cc = connected_components(pairs, "id_a", "id_b")
    drop = _component_winners_drop(
        df, cc, id_col, text_col, keep, keep_score_col
    ).select(F.col("id").alias(id_col))
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_bits(sig_hash: str) -> int:
    """Signature width per hash family: xxhash64 -> 64 bits; md5 -> 60
    bits (15 hex chars — the widest slice that parses into a signed long
    in both Spark's `conv` and DuckDB's hex cast, which is what makes the
    md5 variant oracle-portable)."""
    if sig_hash == "xxhash64":
        return 64
    if sig_hash == "md5":
        return 60
    raise ValueError(f"sig_hash must be 'xxhash64' or 'md5', got {sig_hash!r}")


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sig_hash: str = "xxhash64",
) -> DataFrame:
    """(id, sh) SimHash via explode + codegen'd aggregates.

    Per bit b the signature wants sign(sum over tokens of +-1 by bit
    value) = [2*count(bit set) - n_tokens >= 0]. The per-bit counts are
    SIMD-packed into ceil(nbits/3) sum-aggregates: each long carries 3
    bit-count lanes of 21 bits (bits k, k+stride, k+2*stride), safe under
    ANSI arithmetic for documents up to 2^20 (~1M) tokens. Versus nbits
    sum(when(..)) aggregates this cuts the generated aggregate code ~3x
    (cold-start janino compile was the dominant cost) and narrows the
    shuffle; the per-bit unpack runs on one row per doc."""
    nbits = simhash_bits(sig_hash)
    stride = (nbits + 2) // 3
    # NO `_fan_out_small` here (unlike minhash_signature_table): the
    # SimHash per-row work — tokenize + one hash + packed lane sums —
    # is light enough that the fan-out's round-robin shuffle of the
    # text costs more than the extra cores save (A/B at sf0.1:
    # h<=3 xxhash64 ~2.5 s plain vs ~3.1 s fanned; md5 within noise).
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("t"),
    )
    if sig_hash == "xxhash64":
        tok = tok.select("id", F.xxhash64("t").alias("h"))
    else:
        tok = tok.select(
            "id",
            F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("h"),
        )
    # lane aggregates and the per-bit unpack are built as JVM-parsed
    # `F.expr` strings (guide §5): the Column-operator loops made
    # ~600 py4j round-trips (~1.2 s of driver-side plan construction per
    # invocation — a third of the benched entry's wall); the parsed
    # strings produce identical trees (`|`/`&`/shiftleft/shiftright and
    # CASE WHEN are the same operators with the same literal typing and
    # left-associativity — parity pinned in tests/test_round13_fixes.py,
    # and the md5 family stays oracle-hash-exact).
    lane_aggs = []
    for k in range(stride):
        lanes = " | ".join(
            f"shiftleft(shiftright(h, {k + stride * j}) & 1, {21 * j})"
            for j in range(3)
            if k + stride * j < nbits
        )
        lane_aggs.append(F.sum(F.expr(lanes)).alias(f"p_{k}"))
    sums = tok.groupBy("id").agg(
        *lane_aggs, F.count(F.lit(1)).alias("n_tok")
    )
    packed_terms = ["CAST(0 AS BIGINT)"]
    for b in range(nbits):
        k, j = b % stride, b // stride
        packed_terms.append(
            f"(CASE WHEN (shiftright(p_{k}, {21 * j}) & {0x1FFFFF}) * 2 "
            f">= n_tok THEN shiftleft(CAST(1 AS BIGINT), {b}) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return sums.select("id", F.expr(" | ".join(packed_terms)).alias("sh"))


def simhash_chunk_bounds(nbits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) of the ``max_hamming + 1`` pigeonhole chunks —
    shared by the Spark plan and the oracle-SQL generator."""
    n_chunks = max_hamming + 1
    base, rem = divmod(nbits, n_chunks)
    bounds, off = [], 0
    for c in range(n_chunks):
        width = base + (1 if c < rem else 0)
        bounds.append((off, width))
        off += width
    return bounds


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    sig_hash: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming distance <= max_hamming.

    Pigeonhole blocking, COMPLETE for any configured distance: the
    signature is split into ``max_hamming + 1`` disjoint chunks — a pair
    differing in <= max_hamming bits leaves at least one chunk untouched,
    so the equi-join on (chunk_idx, chunk_value) finds every qualifying
    pair without a cross join. (A fixed 4-chunk split is only complete for
    distance <= 3.) Larger distances mean narrower chunks and therefore
    denser blocking buckets — the join stays bucketed, just with more
    candidates to verify. ``max_bucket`` (optional) drops chunk buckets
    larger than that many docs before the self-join (`_cap_buckets`) —
    the hot-bucket guard for duplicate-heavy corpora; exact duplicates
    are best pre-collapsed upstream (`exact_dedup_agg`) since identical
    texts share every chunk.
    """
    if not 0 <= max_hamming <= 32:
        raise ValueError(f"max_hamming must be in [0, 32], got {max_hamming}")
    # width == 64 (max_hamming=0, single chunk): (1 << 64) - 1 overflows a
    # Spark long literal; the all-ones mask is -1 in two's complement, and
    # AND-ing with it is the identity the exact-match join needs.
    chunk_exprs = [
        F.shiftright(F.col("sh"), off).bitwiseAND(
            F.lit(-1 if width >= 64 else (1 << width) - 1).cast("long")
        )
        for off, width in simhash_chunk_bounds(simhash_bits(sig_hash), max_hamming)
    ]
    sig = simhash_table(df, text_col, id_col, sig_hash)
    chunked = sig.select(
        "id",
        "sh",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk"),
    )
    if max_bucket is not None:
        chunked = _cap_buckets(chunked, ["chunk_idx", "chunk"], max_bucket)
    # guide §2.5: the broadcast self-join + Hamming verify +
    # distinct below is CPU-QUADRATIC in bucket density but byte-tiny,
    # so AQE's byte-based partition coalescing squeezed it onto 1-3
    # tasks (measured: the entry's dominant job — 3.8 s on 3 of 32
    # cores). Fanning out the chunked rows (a few longs per row — NOT
    # the corpus text, which the simhash_table note above deliberately
    # leaves unfanned) spreads the verify across the cluster; both join
    # branches share the identical repartition subtree, so the exchange
    # is computed once. Size-estimate-gated: a no-op at scale, where the
    # post-shuffle partitions are already full.
    chunked = _fan_out_small(chunked)
    a = chunked.select("chunk_idx", "chunk", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = chunked.select("chunk_idx", "chunk", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)  # before distinct: shrink the dedup shuffle
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding near-dup (random hyperplane LSH)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, planes: int, seed: int) -> list[list[float]]:
    import random

    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def dot_expr(a, b):
    """Dot product of two array<numeric> columns — higher-order-function
    fold with deterministic left-to-right accumulation from 0.0
    (oracle-matchable against DuckDB's list_dot_product).

    Measured dead end, kept as a warning: replacing the fold with an
    "easily codegen-able" element_at product chain (64 terms per dot,
    x16 centroids in the IVF assign) made the hot paths 10-80x SLOWER —
    the generated methods blow past the JIT's HugeMethodLimit and the
    whole projection drops to interpreted expression trees. The fold is
    the fast form on this engine; the cheap wins are algebraic instead:
    precompute each side's `norm_expr` once per ROW (not per pair) and
    share one x.x term across centroid distances (`_centroid_dists`)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def norm_expr(a):
    """L2 norm with the same accumulation contract as `dot_expr`."""
    return F.sqrt(dot_expr(a, a))


def hyperplane_bucket(emb: str, dim: int, planes: int = 16, seed: int = 42):
    """Sign-bit LSH bucket key for the embedding column NAMED ``emb``: one
    bit per seeded hyperplane (sign of the dot product), packed into an
    int. Shared between the batch near-dup pairs and the persisted
    embedding index (`operators/incremental.py`) — identical (dim,
    planes, seed) means identical bucketing across runs.

    The whole key is built as ONE JVM-parsed `F.expr` (a Column-operator
    tree made dim x planes py4j literal calls, ~0.9 s of driver-side
    construction per invocation at 64x16, re-paid per streaming
    micro-batch). The SQL string mirrors `dot_expr`'s
    transform/zip_with/aggregate fold exactly, so each dot product
    accumulates left to right from 0.0 (pinned against a pure-Python
    fold in tests/test_round13_fixes.py)."""
    bits = []
    for p, plane in enumerate(_hyperplanes(dim, planes, seed)):
        arr = "array(" + ",".join(_dlit(v) for v in plane) + ")"
        dot = (
            f"aggregate(zip_with("
            f"transform({_ident(emb)}, x -> CAST(x AS DOUBLE)), "
            f"transform({arr}, x -> CAST(x AS DOUBLE)), "
            f"(x, y) -> x * y), 0.0D, (s, x) -> s + x)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END) * {2 ** p}")
    return F.expr(" + ".join(bits))


def cosine_expr(a, b):
    """Cosine similarity between two array<numeric> columns —
    deterministic accumulation order (oracle-matchable). For hot joins
    prefer precomputing each side's `norm_expr` once per row instead of
    per pair (`operators/similarity.py` does)."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def embedding_neardup_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold.

    Sign-bit LSH: 16 seeded hyperplanes -> 16-bit bucket key; near-identical
    vectors land in the same bucket with high probability; cosine verified
    natively. (Recall is probabilistic — by design; the brute-force path in
    operators/similarity.py is the exact baseline.) ``max_bucket``
    (optional) drops buckets larger than that many vectors before the
    self-join (`_cap_buckets`) — the hot-bucket guard for corpora with
    mass-duplicated embeddings.
    """
    key = hyperplane_bucket(emb_col, dim, planes, seed)
    keyed = df.select(F.col(id_col).alias("id"), F.col(emb_col).alias("e"), key.alias("bucket"))
    if max_bucket is not None:
        keyed = _cap_buckets(keyed, ["bucket"], max_bucket)
    # per-row norms once, not per pair — the verify join then pays one
    # dot per candidate pair (bit-identical to the per-pair cosine)
    keyed = keyed.withColumn("__n", norm_expr(F.col("e")))
    # guide §2.5, the dedup_simhash finding: the bucket self-join's
    # quadratic dot-product verify otherwise runs at the source scan's
    # task granularity (the bucketing is map-only, so nothing upstream
    # spreads an unsplittable input). One shared fan-out under both join
    # branches; size-estimate-gated no-op at scale.
    keyed = _fan_out_small(keyed)
    a = keyed.select(
        "bucket", F.col("id").alias("id_a"), F.col("e").alias("e_a"),
        F.col("__n").alias("__n_a"),
    )
    b = keyed.select(
        "bucket", F.col("id").alias("id_b"), F.col("e").alias("e_b"),
        F.col("__n").alias("__n_b"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            dot_expr(F.col("e_a"), F.col("e_b"))
            / (F.col("__n_a") * F.col("__n_b")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    keep_empty_docs: bool = False,
) -> DataFrame:
    """Corpus-wide exact line dedup (the C4 recipe): every distinct line
    survives only at its first occurrence — ordered by (doc id, position)
    — and is dropped from every later document; documents reassemble with
    their remaining lines in original order.

    100 TB shape: two shuffles, both irreducible for these semantics —
    one groupBy keyed by the line to pick first occurrences, one
    groupBy(doc) to reassemble. First-occurrence selection is
    `min(struct(id, idx))` — a real aggregate (struct ordering is
    lexicographic), so repeated lines collapse map-side and the shuffle
    carries one (line, best-position) pair per map task, where a window
    over the line would ship every occurrence. Reassembly sorts each
    doc's surviving (position, line) pairs inside the aggregated array,
    not in a global sort.
    """
    # sep is a LITERAL separator on both the split and the rejoin side:
    # Java's \Q...\E quoting keeps e.g. '.' or '|' from being read as a
    # regex (which would split between every character).
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("__idx", "__line"),
    )
    kept = (
        lines.groupBy("__line")
        .agg(F.min(F.struct(F.col(id_col), F.col("__idx"))).alias("__first"))
        .select(
            F.col(f"__first.{id_col}").alias(id_col),
            F.col("__first.__idx").alias("__idx"),
            "__line",
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__idx", "__line"))),
                lambda s: s["__line"],
            ),
        ).alias(text_col)
    )
    if keep_empty_docs:
        # docs whose every line was claimed elsewhere re-enter with ''
        all_ids = df.select(id_col)
        rebuilt = all_ids.join(rebuilt, id_col, "left_outer").fillna(
            {text_col: ""}
        )
    return rebuilt


def exact_dedup_agg(
    df: DataFrame, cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Scale variant of `exact_dedup`: keep the min-id row per duplicate
    group via `groupBy(digest).agg(min_by(row, id))` instead of a window.

    Why it matters at 100 TB: a window over the dedup key has NO partial
    aggregation — every full row crosses the shuffle. min_by IS a proper
    aggregate, so duplicate rows collapse map-side and the shuffle
    carries one candidate row per (digest, map task); on a duplicate-
    heavy corpus that is the difference between shuffling the corpus and
    shuffling its distinct set. Each column is md5'd SEPARATELY before
    the digests (fixed-width hex, so separators cannot be forged by
    column values containing the separator, and a NULL marker cannot
    collide with any real value) are concatenated and hashed again; the
    shuffle KEY is 32 bytes regardless of document size. An actual md5
    collision (~2^-64 per pair) could still merge two distinct rows —
    the standard at-scale tradeoff, which is why the exact window form
    (`exact_dedup`) stays the registered oracle path.
    """
    parts = [
        F.coalesce(F.md5(F.col(c).cast("string")), F.lit("<null>")) for c in cols
    ]
    digest = F.md5(F.concat_ws("|", *parts))
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(digest.alias("__digest"))
        .agg(F.min_by(row, F.col(id_col)).alias("__row"))
        .select("__row.*")
    )
