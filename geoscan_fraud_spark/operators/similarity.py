"""Approximate-nearest-neighbor search over embedding columns.

Beyond-reference operators (SURVEY §2.10). Two paths:

* `brute_force_topk` — exact baseline: broadcast the (small) query set,
  map-side cosine against every corpus vector, per-query top-k via window
  rank. At 100 TB the corpus side streams through executors once with NO
  shuffle of the corpus — the only shuffle is the final per-query top-k,
  whose input is corpus_rows x n_queries but collapses map-side if you
  pre-aggregate with the same window; for large query sets use `ivf_topk`.
* `ivf_topk` — scale path: coarse-quantize the corpus with seeded KMeans
  (inverted file), probe only the closest `nprobe` centroids per query —
  the same bucket-then-verify shape as the geo engine's cell join.

SemDeDup (`semantic_pairs` / `semantic_dedup`) blocks the corpus by
k-means cluster and scores each cluster's pairs with one BLAS Gram
matrix.

The ANN paths compute cosines with deterministic left-fold accumulation
(`cosine_expr`) so results are oracle-matchable; the Gram kernel matches
the oracle's left fold to reordering error (see `semantic_pairs`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.dedup import cosine_expr, dot_expr, norm_expr
from geoscan_fraud_spark.sources.io import (
    anti_tombstones,
    atomic_write_json,
    fold_generation,
    gen_dir,
    index_writer_lock,
    next_generation,
    publish_generation,
    read_index_meta,
)

#: every generation-scoped data-dir family an IVF index owns — shared by
#: generation listing, vacuum, fsck, and the retire stamps
_IVF_GEN_FAMILIES = ["lists", "tombstones"]


def lloyd_centroids(
    vectors: np.ndarray, n_centroids: int, iters: int = 10
) -> list[list[float]]:
    """Deterministic driver-side Lloyd iterations (float64; init = the
    first ``n_centroids`` vectors in input order; empty clusters keep
    their previous centroid).

    Exists so an IVF quantizer can be shared VERBATIM — as double
    literals — between the Spark plan and an external SQL oracle; the
    MLlib KMeans path in `ivf_topk` stays the scale path (distributed
    fit, kmeans|| init)."""
    X = np.asarray(vectors, dtype=np.float64)
    cent = X[:n_centroids].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [[float(v) for v in c] for c in cent]


def _centroid_dists_fold(emb, centroids: list[list[float]]):
    """The pure-JVM higher-order fold that defines `_centroid_dists`'
    semantics, kept as its bit-parity reference: an array of
    per-centroid |x-c|^2 via the dot-product identity
    x.x + c.c - 2 x.c, sharing ONE x.x term across all centroids (the
    per-centroid form re-evaluated it n_centroids times) and folding
    each c.c to a Python-side literal with the same left-to-right IEEE
    accumulation the engine fold uses — so assignments still replay
    bit-exactly in a `list_dot_product`-based oracle, at a third of the
    per-row fold count."""
    n2 = dot_expr(emb, emb)
    dists = []
    for ctr in centroids:
        c2 = 0.0
        for v in ctr:
            c2 += float(v) * float(v)
        lit_arr = F.array(*[F.lit(float(v)) for v in ctr])
        dists.append(n2 + F.lit(c2) - F.lit(2.0) * dot_expr(emb, lit_arr))
    return F.array(*dists)


def _centroid_dists(emb, centroids: list[list[float]]):
    """Per-centroid squared-L2 distance array: `_centroid_dists_fold` as
    ONE vectorized pandas_udf.

    The higher-order `F.aggregate` fold evaluates INTERPRETED per array
    element (and the codegen'd expansion blows past HugeMethodLimit —
    see `dot_expr`'s dead-end note), so the n_centroids x dim fold count
    dominated every IVF assignment pass: measured 2.9 s to assign 2 000
    64-dim vectors to 16 centroids at sf0.1. This kernel computes the
    same distances over Arrow batches with numpy, accumulating in the
    SAME left-to-right order per element — a `for j in range(dim)`
    column loop, each step one IEEE double multiply-add per row — so
    every distance is BIT-IDENTICAL to the fold's (pinned by
    tests/test_round12_fixes.py::test_centroid_dists_arrow_bit_parity);
    argmin assignments and oracle replays are unchanged by construction.

    Domain note: parity covers every FINITE-distance input (incl.
    denormals and ~1e150 magnitudes). If |x|^2 itself overflows to inf
    (elements beyond ~1e154 — no real embedding pipeline), inf - inf
    distances are NaN on both paths but Arrow's nested-array transport
    surfaces NaN as NULL, where `_centroid_dists_fold` keeps NaN.
    """
    C = [[float(v) for v in ctr] for ctr in centroids]
    c2s = []
    for ctr in C:
        c2 = 0.0
        for v in ctr:
            c2 += v * v
        c2s.append(c2)

    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def dists(s: pd.Series) -> pd.Series:
        # a NULL embedding folds to an array of k NULL distances (n2 is
        # null, so every per-centroid expression is) — match that shape
        null_row = [None] * len(C)
        mask = s.notna()
        if not mask.any():
            return pd.Series([null_row] * len(s), index=s.index)
        X = np.stack(s[mask].to_numpy()).astype(np.float64, copy=False)
        nrows, dim = X.shape
        n2 = np.zeros(nrows)
        for j in range(dim):
            xj = X[:, j]
            n2 = n2 + xj * xj
        out = np.empty((nrows, len(C)))
        for i, ctr in enumerate(C):
            acc = np.zeros(nrows)
            for j in range(dim):
                acc = acc + X[:, j] * ctr[j]
            out[:, i] = (n2 + c2s[i]) - 2.0 * acc
        vals: list = [null_row] * len(s)
        for pos, row in zip(np.flatnonzero(mask.to_numpy()), out):
            vals[pos] = row
        return pd.Series(vals, index=s.index)

    return dists(emb)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, vec_id, sim, rank): exact cosine top-k per query.

    Ranking key is (rounded sim desc, vec_id asc) — fully deterministic,
    ties broken by id. Each side's norm is computed once per ROW before
    the cross join (not once per pair — 3x fewer interpreted folds in
    the hot join), bit-identical to the naive per-pair cosine.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    ).withColumn("__qn", norm_expr(F.col("q_emb")))
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("c_emb")
    ).withColumn("__cn", norm_expr(F.col("c_emb")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "sim",
            F.round(
                dot_expr(F.col("q_emb"), F.col("c_emb"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def _ivf_assign_probe(
    c: DataFrame,
    q: DataFrame,
    n_centroids: int,
    nprobe: int,
    seed: int,
    centroids: list[list[float]] | None,
):
    """Shared IVF front half: assign corpus vectors to inverted lists and
    pick each query's ``nprobe`` probe lists.

    Returns (assigned, probes): assigned = (vec_id, c_emb, list_id),
    probes = (query_id, q_emb, list_id). Quantizer: seeded MLlib KMeans
    by default (distributed — the scale path); fixed ``centroids``
    literals otherwise (oracle-replayable; 1-based list ids)."""
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        cvec = c.withColumn(
            "features", array_to_vector(F.transform("c_emb", lambda x: x.cast("double")))
        )
        km = KMeans(k=n_centroids, seed=seed, featuresCol="features", predictionCol="list_id")
        model = km.fit(cvec)
        assigned = model.transform(cvec).select("vec_id", "c_emb", "list_id")
        cent_rows = [
            (i, [float(v) for v in ctr]) for i, ctr in enumerate(model.clusterCenters())
        ]
        cent_df = c.sparkSession.createDataFrame(cent_rows, ["list_id", "centroid"])
        probes = (
            q.crossJoin(F.broadcast(cent_df))
            .withColumn("c_sim", cosine_expr(F.col("q_emb"), F.col("centroid")))
            .withColumn(
                "c_rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.desc("c_sim"), F.asc("list_id")
                    )
                ),
            )
            .filter(F.col("c_rank") <= nprobe)
            .select("query_id", "q_emb", "list_id")
        )
    else:
        def dists(emb):
            return _centroid_dists(emb, centroids)

        assigned = c.withColumn("__d", dists(F.col("c_emb"))).select(
            "vec_id",
            "c_emb",
            F.array_position(F.col("__d"), F.array_min(F.col("__d"))).alias("list_id"),
        )
        probes = (
            q.withColumn("__d", dists(F.col("q_emb")))
            .select(
                "query_id", "q_emb", F.posexplode(F.col("__d")).alias("pos", "d")
            )
            .withColumn(
                "c_rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("pos"))
                ),
            )
            .filter(F.col("c_rank") <= nprobe)
            .select("query_id", "q_emb", (F.col("pos") + 1).alias("list_id"))
        )
    return assigned, probes


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: coarse quantizer + probe-nearest-lists.

    Returns (query_id, vec_id, sim, rank). Approximate: recall depends on
    nprobe/n_centroids (tested against the brute-force baseline).

    Quantizer: by default a seeded MLlib KMeans fit (distributed — the
    scale path). Pass ``centroids`` (e.g. from `lloyd_centroids`) to use a
    fixed quantizer instead: assignment and probing then run as pure
    column expressions over centroid literals, which makes the whole
    query replayable in an external SQL oracle. Assignment = nearest
    centroid by squared L2 (first index on ties); probe order = ascending
    squared L2, ties by list id. 1-based list ids in this mode.
    Per-side norms are computed once per row (not per probe pair) — a
    bit-identical reshape of the per-pair cosine.
    """
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("c_emb"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb"))
    assigned, probes = _ivf_assign_probe(c, q, n_centroids, nprobe, seed, centroids)
    assigned = assigned.withColumn("__cn", norm_expr(F.col("c_emb")))
    probes = probes.withColumn("__qn", norm_expr(F.col("q_emb")))
    scored = (
        probes.join(assigned, "list_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "sim",
            F.round(
                dot_expr(F.col("q_emb"), F.col("c_emb"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def ivf_topk_quantized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    rerank: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN over an int8-quantized corpus with exact re-rank — the
    standard memory-bound ANN shape at 100 TB.

    The probe scan reads the 8x-smaller ``(scale, qvec)`` representation
    (for a scan-bound corpus that is the difference between an IO-bound
    pass and not); symmetric quantization means the positive per-vector
    scale cancels out of the cosine, so the approximate score is simply
    ``cosine(query, qvec)`` — the only error is int8 rounding. The top
    ``rerank * k`` candidates per query are then re-scored against the
    full-precision vectors (a join whose left side is tiny — AQE
    broadcasts it) and the exact top-k returned. Output matches
    `ivf_topk`'s contract: (query_id, vec_id, sim, rank) with ``sim`` the
    EXACT rounded cosine, so downstream consumers see identical schema
    and semantics whichever path produced them.
    """
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("c_emb"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb"))
    assigned, probes = _ivf_assign_probe(c, q, n_centroids, nprobe, seed, centroids)
    q8 = quantize_embeddings(
        assigned, vec_col="c_emb", id_col="vec_id", keep_cols=["list_id"]
    ).withColumn("__vn", norm_expr(F.col("qvec")))
    probes = probes.withColumn("__qn", norm_expr(F.col("q_emb")))
    cand = (
        probes.join(q8, "list_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "sim_q",
            dot_expr(F.col("q_emb"), F.col("qvec"))
            / (F.col("__qn") * F.col("__vn")),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim_q"), F.asc("vec_id"))
    shortlist = (
        cand.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= rerank * k)
        .select("query_id", "q_emb", "__qn", "vec_id")
    )
    # re-rank against the RAW corpus relation, not `assigned`: the exact
    # pass needs only (vec_id -> c_emb), and joining `assigned` here would
    # re-evaluate the centroid-assignment folds over the whole corpus a
    # second time
    rescored = shortlist.join(
        c.withColumn("__cn", norm_expr(F.col("c_emb"))), "vec_id"
    ).withColumn(
        "sim",
        F.round(
            dot_expr(F.col("q_emb"), F.col("c_emb"))
            / (F.col("__qn") * F.col("__cn")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def semantic_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    max_bucket: int | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """(id_a, id_b, cosine): within-cluster embedding pairs with
    ``id_a < id_b`` and ``cosine >= threshold`` — the SemDeDup blocking
    scheme (Abbas et al. 2023): k-means the corpus, compare only inside
    each cluster.

    Same bucket-then-verify shape as the geo engine's cell join (J4) and
    the hyperplane-LSH `embedding_neardup_pairs`, with a *learned*
    partition instead of random planes — semantically close pairs that
    random hyperplanes split across buckets land in one cluster here.
    Recall caveat (inherent to the published algorithm): pairs straddling
    a cluster boundary are missed; raise ``n_clusters`` only as the
    corpus grows (cost is O(sum k_i^2) over cluster sizes k_i).

    Kernel: one `groupBy(cluster).applyInPandas` shuffle; each cluster's
    all-pairs cosine is a Gram matrix of the row-normalized float64
    embeddings, built with a BLAS matmul in 1024-row blocks so per-group
    memory is O(block x k). A zero vector has cosine 0 with everything,
    so it pairs only at ``threshold <= 0``.

    Boundary contract: the Gram matrix sums in BLAS order, so a cosine
    can differ from a left-fold dot product (`cosine_expr`, and the
    DuckDB oracle's `list_dot_product`) by reordering error (~1e-15). A
    pair whose cosine sits within that distance of ``threshold`` may
    fall on the other side in the two engines: oracle parity holds by
    margin, not by construction. On the sf0.001, sf0.01 and sf0.1
    fixtures the registered entry's workload (threshold 0.98) has no
    in-cluster cosine in [0.90, 0.98), and Gram and left-fold cosines
    agree to 1.2e-15.

    Scale: at 100 TB, size ``n_clusters ~ n / 10_000`` so clusters stay
    bounded, and set ``max_bucket`` as the hot-cluster guard (same
    tradeoff as the LSH `_cap_buckets`: a dense semantic clump —
    boilerplate at corpus scale — would otherwise emit k^2/2 pairs;
    exact-duplicate vectors should be collapsed upstream). Quantizer:
    seeded MLlib KMeans by default (the distributed scale path); pass
    fixed ``centroids`` (e.g. from `lloyd_centroids`) for a plan that
    replays bit-exactly in an external SQL oracle (assignment = first
    index of min squared-L2, 1-based).

    ``nprobe`` is the multi-probe answer to the
    boundary-miss caveat above: each vector is assigned to its
    ``nprobe`` NEAREST centroids (not just the argmin), so a near-dup
    pair straddling a cluster boundary still shares their runner-up
    cluster with high probability. Cost scales linearly in assignment
    rows (~nprobe x the kernel input) — the standard multi-probe
    recall/cost dial; pairs found in several shared clusters dedup to
    one row. With the MLlib quantizer the fitted cluster centers are
    extracted and probed through the same distance algebra as fixed
    ``centroids``. ``nprobe=1`` is exactly the published SemDeDup
    assignment (and the registered oracle's semantics).
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if nprobe > n_clusters:
        raise ValueError(
            f"nprobe ({nprobe}) cannot exceed n_clusters ({n_clusters})"
        )
    # measured-and-rejected (guide §1): a `_fan_out_small` here —
    # the dedup_simhash/embedding_lsh fix applied to the assignment map
    # side — REGRESSED semantic_dedup 1.92 → 2.38 s at sf0.1. Unlike
    # those broadcast self-joins, the cluster blocking downstream is a
    # real groupBy(cl) shuffle that already spreads the quadratic
    # verify; the fan-out only added a round-robin shuffle of the
    # embedding arrays in front of it.
    c = df.select(F.col(id_col).alias("id"), F.col(emb_col).alias("e"))
    probe_centroids = centroids
    if centroids is None and (nprobe == 1):
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        cvec = c.withColumn(
            "features", array_to_vector(F.transform("e", lambda x: x.cast("double")))
        )
        km = KMeans(k=n_clusters, seed=seed, featuresCol="features", predictionCol="cl")
        assigned = km.fit(cvec).transform(cvec).select("id", "e", "cl")
    else:
        if probe_centroids is None:
            # multi-probe with the MLlib quantizer: fit, then extract the
            # centers and run them through the same distance algebra as
            # fixed centroids (MLlib transform only yields the argmin)
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            cvec = c.withColumn(
                "features",
                array_to_vector(F.transform("e", lambda x: x.cast("double"))),
            )
            km = KMeans(
                k=n_clusters, seed=seed, featuresCol="features", predictionCol="cl"
            )
            probe_centroids = [
                [float(x) for x in ctr]
                for ctr in km.fit(cvec).clusterCenters()
            ]
        d = _centroid_dists(F.col("e"), probe_centroids)
        if nprobe == 1:
            assigned = c.select(
                "id", "e", F.array_position(d, F.array_min(d)).alias("cl")
            )
        else:
            # top-nprobe clusters: sort (dist, cl) structs — ties break
            # on the smaller cluster id, matching array_position's
            # first-match rule — and explode the first nprobe
            ranked = F.slice(
                F.array_sort(
                    F.transform(
                        d,
                        lambda x, i: F.struct(
                            x.alias("dist"), (i + 1).alias("cl")
                        ),
                    )
                ),
                1,
                nprobe,
            )
            assigned = c.select(
                "id",
                "e",
                F.explode(F.transform(ranked, lambda s: s["cl"])).alias("cl"),
            )
    if max_bucket is not None:
        from geoscan_fraud_spark.operators.dedup import _cap_buckets

        assigned = _cap_buckets(assigned, ["cl"], max_bucket)
    from pyspark.sql import types as T

    thr = float(threshold)
    schema = T.StructType(
        [
            T.StructField("id_a", df.schema[id_col].dataType),
            T.StructField("id_b", df.schema[id_col].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def per_cluster(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["e"]])
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        n = len(ids)
        out_a, out_b, out_c = [], [], []
        block = 1024
        for s in range(0, n, block):
            e_ = min(s + block, n)
            S = Xn[s:e_] @ Xn.T  # (block, n)
            for r in range(s, e_):
                row = S[r - s, r + 1 :]
                hit = np.nonzero(row >= thr)[0]
                if hit.size:
                    out_a.append(np.full(hit.size, ids[r]))
                    out_b.append(ids[r + 1 + hit])
                    out_c.append(row[hit])
        if not out_a:
            empty = np.array([], dtype=ids.dtype)
            return pd.DataFrame(
                {
                    "id_a": empty,
                    "id_b": empty,
                    "cosine": np.array([], dtype="float64"),
                }
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    out = assigned.groupBy("cl").applyInPandas(per_cluster, schema)
    return _dedup_probe_pairs(out, nprobe)


def _dedup_probe_pairs(pairs: DataFrame, nprobe: int) -> DataFrame:
    """Multi-probe emits the same pair once per shared probed cluster;
    collapse to one row (max cosine — the recomputations differ only by
    float reordering, and max is deterministic where distinct-on-ids is
    not). No-op shuffle-free at nprobe=1."""
    if nprobe == 1:
        return pairs
    return pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    max_bucket: int | None = None,
    nprobe: int = 1,
    keep: str = "min_id",
    keep_score_col: str | None = None,
) -> DataFrame:
    """Surviving ids after SemDeDup-style semantic deduplication: cluster
    -> within-cluster cosine pairs (`semantic_pairs`) -> connected
    components -> keep one representative per component.

    Returns a one-column DataFrame of ``id_col`` (the survivor set;
    semi-join it back to recover full rows — same contract as
    `minhash_dedup`). Eager: connected components iterates to fixpoint
    (O(log n) rounds, each checkpointed — `operators/components.py`).
    ``nprobe`` (multi-probe boundary recall) as in `semantic_pairs`.
    ``keep`` (shared with `minhash_dedup`):
    ``'min_id'`` (default — the oracle semantics) or ``'score'`` (max
    ``keep_score_col`` from ``df`` — e.g. a quality-model p_good — with
    min-id tiebreak); ``'longest'`` needs a text column and is a
    minhash-side policy.
    """
    from geoscan_fraud_spark.operators.components import connected_components
    from geoscan_fraud_spark.operators.dedup import _component_winners_drop

    if keep == "longest":
        raise ValueError(
            "keep='longest' is text-based — use minhash_dedup, or pass "
            "keep='score' with a length column"
        )
    pairs = semantic_pairs(
        df, threshold, n_clusters, emb_col, id_col, seed, centroids,
        max_bucket, nprobe,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    dropped = _component_winners_drop(
        df, comp, id_col, emb_col, keep, keep_score_col
    )
    return df.select(F.col(id_col)).join(
        dropped, F.col(id_col) == dropped.id, "left_anti"
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Symmetric int8 quantization: (id, scale, qvec array<tinyint>) with
    ``value ~= scale * q`` and scale = max(|v|)/127 per vector.

    The storage/IO lever for a 100 TB embedding corpus: a float64 array
    column shrinks 8x (float32 parquet 4x), which at this scale is the
    difference between an ANN pass that is scan-bound and one that is
    not. Pure column algebra (aggregate + transform), map-only; the
    recall cost is bounded by the quantization error (~0.4% of the max
    coordinate), verified against exact cosine in tests. ``keep_cols``
    carries extra columns through unchanged (e.g. an IVF list id).
    """
    keep = list(keep_cols or [])
    v = F.col(vec_col)
    amax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    return df.select(
        F.col(id_col), *keep, (amax / F.lit(127.0)).alias("scale"), v.alias("__v")
    ).select(
        id_col,
        *keep,
        "scale",
        F.transform(
            F.col("__v"),
            lambda x: F.round(x / F.greatest(F.col("scale"), F.lit(1e-30))).cast(
                "byte"
            ),
        ).alias("qvec"),
    )


def dequantize_embeddings(
    df: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Inverse of `quantize_embeddings`: (id, embedding array<double>)."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col("qvec"), lambda q: q.cast("double") * F.col("scale")
        ).alias("embedding"),
    )


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    pq_m: int | None = None,
    pq_k: int = 256,
    pq_train_rows: int = 4096,
    pq_codebooks=None,
    pq_residual: bool = False,
    pq_sample: str = "hash",
) -> int:
    """Build and persist an IVF-ANN index: ``path/lists`` holds the
    int8-quantized corpus PARTITIONED BY list id, ``path/centroids.json``
    the quantizer. Returns the number of inverted lists written.

    ``pq_m`` additionally stores ``m``-byte product-quantization codes
    plus the exact vector norm on every row (`operators/pq.py`) and the
    trained per-subspace codebooks in the index metadata — the IVF-PQ
    layout: `ivf_index_query(shortlist='pq')` then scans ~``m + 8``
    bytes per candidate instead of the int8 vector, the ADC tier for a
    corpus whose shortlist scan is IO-bound even at int8. Codebooks are
    trained once at build (deterministic ``pq_train_rows``-row sample —
    ``pq_sample='hash'`` takes the lowest-``xxhash64(id)`` rows, an
    unbiased slice of an id-content-correlated corpus; `pq_train_sample`
    — or pass ``pq_codebooks``) and FROZEN: appends encode against
    them, exactly like the frozen coarse centroids. The sampling
    parameters persist in the pq metadata block so `ivf_index_rebuild`
    retrains on the same sample size and mode. ``pq_residual`` encodes
    ``v - c_list`` instead of ``v`` (Faiss IVFPQ proper — the codebooks
    spend their codewords on the within-list spread; the query adds the
    exact ``dot(q, c_list)`` base term back natively per probe pair).

    The layout is the serving-side point: a query probes ``nprobe``
    lists, and because each list is its own partition directory the scan
    reads ONLY those directories (static partition pruning via the probe
    filter — `ivf_index_query`). At 100 TB that is the difference
    between touching nprobe/n_centroids of the corpus and all of it.
    Vectors are stored int8 (`quantize_embeddings`, 8x smaller); exact
    re-rank at query time uses dequantized vectors by default or the
    full-precision corpus if the caller passes it.

    Holds the `index_writer_lock` for the whole build. Rebuilding over
    a LIVE index publishes a NEW GENERATION (first build = generation 0,
    the bare ``lists/`` layout): the fresh lists land in ``lists.gN``
    beside the dirs in-flight readers resolved, and the metadata pointer
    flips in one atomic commit — prior tombstones belong to the replaced
    snapshot and do not carry over; stale generations remain until
    `index_vacuum`."""
    import os

    os.makedirs(path, exist_ok=True)
    with index_writer_lock(path, "ivf_index_write"):
        extra = None
        try:
            prior_meta = read_index_meta(os.path.join(path, "centroids.json"))
            # carry the stream cursor through a rebuild-over-live (the
            # ivf_index_rebuild contract): dropping it would let a
            # crash-window replay of a committed batch re-append and
            # double-count — the rebuild corpus contains every committed
            # batch by the rebuild-over-live contract
            if "last_stream_batch" in prior_meta:
                extra = {
                    "last_stream_batch": int(prior_meta["last_stream_batch"])
                }
        except (FileNotFoundError, ValueError):
            prior_meta = None  # no or torn metadata — a rebuild is the cure
        g_new = next_generation(path, prior_meta, _IVF_GEN_FAMILIES)
        return _ivf_index_write_locked(
            corpus, path, n_centroids, emb_col, id_col, seed, centroids,
            gen=g_new, extra_meta=extra,
            pq_m=pq_m, pq_k=pq_k, pq_train_rows=pq_train_rows,
            pq_codebooks=pq_codebooks, pq_residual=pq_residual,
            pq_sample=pq_sample,
        )


def _ivf_index_write_locked(
    corpus, path, n_centroids, emb_col, id_col, seed, centroids,
    gen=0, extra_meta=None,
    pq_m=None, pq_k=256, pq_train_rows=4096, pq_codebooks=None,
    pq_residual=False, pq_sample="hash",
) -> int:
    """Core build: fit/assign, quantize, write ``lists`` at ``gen``,
    commit metadata (with ``extra_meta`` merged — how `ivf_index_rebuild`
    carries the stream cursor across) in one atomic flip. Caller holds
    the writer lock."""
    import os

    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("c_emb"))
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        cvec = c.withColumn(
            "features", array_to_vector(F.transform("c_emb", lambda x: x.cast("double")))
        )
        model = KMeans(
            k=n_centroids, seed=seed, featuresCol="features", predictionCol="list_id"
        ).fit(cvec)
        # the fitted centers persist with the index, so queries never refit
        cent = [[float(v) for v in ctr] for ctr in model.clusterCenters()]
        assigned = model.transform(cvec).select("vec_id", "c_emb", "list_id")
    else:
        cent = [[float(v) for v in ctr] for ctr in centroids]
        d = _centroid_dists(F.col("c_emb"), cent)
        assigned = c.select(
            "vec_id",
            "c_emb",
            F.array_position(d, F.array_min(d)).alias("list_id"),
        )

    # src_batch stamps every row's ingest generation (-1 = the build),
    # making `index_expire` retention possible; format 2 marks the
    # column as present in EVERY list file (no mixed schemas)
    base = assigned.withColumn("src_batch", F.lit(-1))
    keep = ["list_id", "src_batch"]
    pq_block = None
    if pq_m is not None or pq_codebooks is not None:
        import numpy as np

        from geoscan_fraud_spark.operators.pq import (
            _np_codebooks,
            _sample_order,
            pq_encode,
            pq_train_codebooks,
            pq_train_sample,
        )

        one_based = centroids is not None
        if pq_codebooks is None and pq_residual:
            # train on the residuals the codes will actually encode:
            # sample rows WITH their assignment (same deterministic
            # hash-stratified order as pq_train_sample), subtract
            # driver-side
            pdf = (
                assigned.select("vec_id", "c_emb", "list_id")
                .orderBy(*_sample_order(pq_sample, "vec_id"))
                .limit(pq_train_rows)
                .toPandas()
            )
            if len(pdf) == 0:
                # same friendly refusal as pq_train_sample — np.stack
                # over zero rows would raise numpy's opaque "need at
                # least one array to stack"
                raise ValueError(
                    "pq residual training: the corpus is empty — PQ "
                    "codebooks cannot train on zero rows (build the "
                    "index without pq_m, or pass pre-trained "
                    "pq_codebooks)"
                )
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["c_emb"]]
            )
            lid = pdf["list_id"].to_numpy().astype(np.int64) - (
                1 if one_based else 0
            )
            pq_codebooks = pq_train_codebooks(
                X - np.asarray(cent, dtype=np.float64)[lid], m=pq_m, k=pq_k
            )
        elif pq_codebooks is None:
            pq_codebooks = pq_train_sample(
                c, m=pq_m, k=pq_k, vec_col="c_emb", id_col="vec_id",
                train_rows=pq_train_rows, sample=pq_sample,
            )
        shape = _np_codebooks(pq_codebooks).shape
        # codes + exact norm ride in the SAME list files as the int8
        # vectors (all-or-nothing per index — mixed schemas would
        # corrupt plain directory reads); appends mirror this
        base = pq_encode(
            base, pq_codebooks, vec_col="c_emb", id_col="vec_id",
            keep_cols=keep, keep_vec=True,
            coarse_centroids=cent if pq_residual else None,
            one_based=one_based,
        )
        keep = keep + ["vnorm", "codes"]
        pq_block = {
            "m": int(shape[0]),
            "k": int(shape[1]),
            "residual": bool(pq_residual),
            # sampling parameters persist so a rebuild retrains on the
            # same sample size/mode — without train_rows a custom
            # (larger) sample would silently shrink to the default;
            # recorded even when codebooks were passed in, as the
            # retrain parameters a rebuild should use
            "train_rows": int(pq_train_rows),
            "sample": str(pq_sample),
            "codebooks": [
                [[float(v) for v in cw] for cw in book] for book in pq_codebooks
            ],
        }
    q8 = quantize_embeddings(
        base, vec_col="c_emb", id_col="vec_id", keep_cols=keep
    )
    # cluster by the layout column before the dynamic-partition write
    # (guide §6): otherwise every task holds rows of every list and
    # the writer emits tasks x lists files; REBALANCE coalesces to one
    # right-sized file per list and still splits an oversized hot list.
    # `ivf_index_compact` applies the same discipline via repartition.
    q8.hint("rebalance", "list_id").write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(gen_dir(path, "lists", {"gen": gen}))
    # drift baseline for `ivf_index_append`: mean squared distance of the
    # build corpus to its nearest centroid (the same `_centroid_dists`
    # formula appends use, so the ratio is apples-to-apples even for the
    # MLlib-fit path). One extra agg job over the build corpus.
    d_all = _centroid_dists(F.col("c_emb"), cent)
    base = c.agg(
        F.count(F.lit(1)).alias("rows"),
        F.avg(F.array_min(d_all)).alias("mean_d2"),
    ).collect()[0]
    os.makedirs(path, exist_ok=True)
    meta = {
        "n_centroids": len(cent),
        "dim": len(cent[0]),
        "centroids": cent,
        "one_based": centroids is not None,
        "rows": int(base["rows"]),
        "appended_rows": 0,
        "mean_assign_dist2": float(base["mean_d2"]) if base["mean_d2"] is not None else None,
        "format": 2,
        "gen": int(gen),
    }
    if pq_block is not None:
        meta["pq"] = pq_block
    if extra_meta:
        meta.update(extra_meta)
    # the generation pointer flips here, in the same atomic commit as
    # the quantizer — before this line the build never existed for
    # readers (snapshot isolation; see ivf_index_compact)
    publish_generation(path, "centroids.json", meta, _IVF_GEN_FAMILIES)
    return len(cent)


def ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    drift_rebuild_ratio: float = 2.0,
    src_batch: int | None = None,
) -> dict:
    """Append a batch to a persisted `ivf_index_write` index WITHOUT
    re-clustering — the 100 TB ingest path. Re-fitting k-means over the
    whole corpus per arriving batch re-reads everything ever indexed;
    appending assigns only the NEW vectors to the frozen stored
    centroids (map-only `_centroid_dists` + `array_min`), int8-quantizes
    them, and appends parquet files into the existing ``list_id``
    partition directories — `ivf_index_query`'s partition-pruned probe
    picks them up with no index rewrite.

    The cost of never re-clustering is drift: if the data distribution
    moves, new vectors land far from every centroid and recall decays
    silently. Guard: each batch's mean squared nearest-centroid distance
    is compared against the build-time baseline recorded in
    ``centroids.json``; the returned ``drift_ratio`` > ``drift_rebuild_ratio``
    sets ``rebuild_recommended`` (the caller schedules a re-fit — this
    function never blocks the write, because at ingest time landing the
    data beats index optimality).

    Two passes over the BATCH only (stats agg + write), nothing over the
    existing index. For a KMeans-built index, boundary vectors could in
    principle assign differently than MLlib's own predict under IEEE
    rounding — harmless for retrieval, since queries probe by the same
    stored-centroid distances appends assign by.

    ``src_batch`` doubles as the replay guard (mirroring
    `text_index_append`): a batch whose id is <= the recorded
    ``last_stream_batch`` is SKIPPED, and on success the id commits in
    the SAME atomic centroids.json write as the row counters — so a
    direct caller retrying a batch can double-write rows only inside
    the crash window (bit-identical rows, healed exactly by
    `ivf_index_compact`) and can never double-count the meta counters.
    Single-writer: guarded by `index_writer_lock`.
    """
    import os

    meta_path = os.path.join(path, "centroids.json")
    with index_writer_lock(path, "ivf_index_append"):
        meta = read_index_meta(meta_path)
        cent = meta["centroids"]
        if (
            src_batch is not None
            and int(meta.get("last_stream_batch", -1)) >= src_batch
        ):
            return {
                "rows": 0,
                "mean_assign_dist2": None,
                "build_mean_assign_dist2": meta.get("mean_assign_dist2"),
                "drift_ratio": None,
                "rebuild_recommended": False,
                "skipped_replay": True,
            }

        c = new_vectors.select(
            F.col(id_col).alias("vec_id"), F.col(emb_col).alias("c_emb")
        )
        d = _centroid_dists(F.col("c_emb"), cent)
        # array_position is 1-based == the explicit-centroid convention;
        # KMeans-built indexes store 0-based list ids
        list_id = F.array_position(d, F.array_min(d)) - F.lit(
            0 if meta["one_based"] else 1
        )
        # persisted for the call: the k-means assignment (O(dim *
        # n_centroids) per row) runs ONCE — the stats agg materializes
        # the cache and the quantize+write below reads it back, instead
        # of recomputing every centroid distance on the second pass
        assigned = c.select(
            "vec_id",
            "c_emb",
            list_id.alias("list_id"),
            F.array_min(d).alias("__d2"),
            F.size("c_emb").alias("__dim"),
        ).persist()
        stats = assigned.agg(
            F.count(F.lit(1)).alias("rows"),
            F.avg("__d2").alias("mean_d2"),
            F.min("__dim").alias("dim_min"),
            F.max("__dim").alias("dim_max"),
        ).collect()[0]
        if stats["rows"] == 0:
            assigned.unpersist()
            # still advance the stream cursor: an empty committed batch
            # replayed later must not look uncommitted
            if src_batch is not None:
                meta["last_stream_batch"] = int(src_batch)
                atomic_write_json(meta_path, meta)
            return {
                "rows": 0,
                "mean_assign_dist2": None,
                "build_mean_assign_dist2": meta.get("mean_assign_dist2"),
                "drift_ratio": None,
                "rebuild_recommended": False,
                "skipped_replay": False,
            }
        try:
            if stats["dim_min"] != meta["dim"] or stats["dim_max"] != meta["dim"]:
                raise ValueError(
                    f"embedding dim mismatch: index expects {meta['dim']}, "
                    f"batch has [{stats['dim_min']}, {stats['dim_max']}]"
                )

            batch = assigned.drop("__d2", "__dim")
            keep = ["list_id"]
            if int(meta.get("format", 1)) >= 2:
                # stamp the ingest generation so `index_expire` can
                # age rows. ``src_batch`` (the streaming sink passes its
                # batch id) MUST be replay-stable: a crash-window replay
                # then stamps the SAME value and stays bit-identical for
                # the compaction heal. Direct callers default to the
                # monotone appends counter (expire cutoffs are in
                # whichever numbering fed the index). Legacy format-1
                # indexes have no src_batch column in their base files,
                # and a mixed-schema lists dir would corrupt plain reads
                # — so they stay unstamped.
                gen = int(src_batch) if src_batch is not None else int(
                    meta.get("appends", 0)
                ) + 1
                batch = batch.withColumn("src_batch", F.lit(gen))
                keep.append("src_batch")
            if meta.get("pq"):
                # IVF-PQ index: encode with the FROZEN build-time
                # codebooks, the same frozen-model contract as the
                # coarse centroids (drift shows in the same guard)
                from geoscan_fraud_spark.operators.pq import pq_encode

                batch = pq_encode(
                    batch, meta["pq"]["codebooks"], vec_col="c_emb",
                    id_col="vec_id", keep_cols=keep, keep_vec=True,
                    coarse_centroids=(
                        cent if meta["pq"].get("residual") else None
                    ),
                    one_based=bool(meta["one_based"]),
                )
                keep = keep + ["vnorm", "codes"]
            q8 = quantize_embeddings(
                batch, vec_col="c_emb", id_col="vec_id", keep_cols=keep
            )
            # append INTO the live generation: new files beside immutable
            # existing ones — never an in-place mutation. REBALANCE on
            # the layout column (guide §6): one file per touched
            # list per append instead of tasks x lists — appends compound
            # the file count until compaction, so per-append layout
            # hygiene matters most here.
            q8.hint("rebalance", "list_id").write.mode("append").partitionBy(
                "list_id"
            ).parquet(gen_dir(path, "lists", meta))
        finally:
            assigned.unpersist()

        batch_d2 = float(stats["mean_d2"])
        build_d2 = meta.get("mean_assign_dist2")
        drift = (batch_d2 / build_d2) if build_d2 else None
        meta["appended_rows"] = int(meta.get("appended_rows", 0)) + int(
            stats["rows"]
        )
        meta["appends"] = int(meta.get("appends", 0)) + 1
        if build_d2 is None:
            # legacy index without a baseline: adopt this batch's as one
            meta["mean_assign_dist2"] = batch_d2
        if src_batch is not None:
            meta["last_stream_batch"] = int(src_batch)
        atomic_write_json(meta_path, meta)
        return {
            "rows": int(stats["rows"]),
            "mean_assign_dist2": batch_d2,
            "build_mean_assign_dist2": build_d2,
            "drift_ratio": drift,
            "rebuild_recommended": bool(
                drift is not None and drift > drift_rebuild_ratio
            ),
            "skipped_replay": False,
        }


def _ivf_relayout(spark, path: str, expire_below: int | None) -> int:
    """`ivf_index_compact`'s body, optionally also dropping every
    appended vector whose ingest generation is below ``expire_below``
    (`index_expire`; build rows, ``src_batch = -1``, never expire — the
    backfill corpus is the quantizer's ground truth). Publishes a NEW
    GENERATION of the lists (`fold_generation`: distinct -> expiry ->
    anti-tombstones -> one file per list dir) and flips the metadata
    pointer in one atomic commit. Readers resolve their lists dir
    through the metadata they load first, so a query planned before the
    flip finishes against the old snapshot — its files are never
    touched — and a crash anywhere before the flip leaves the live
    index byte-identical (the half-written generation is an unpublished
    orphan: fsck names it, `index_vacuum` removes it). The
    ``rows``/``appended_rows`` counters are RECOMPUTED from the
    surviving rows so `index_fsck`'s drift check stays exact after
    tombstones/expiry apply."""
    import os

    meta_path = os.path.join(path, "centroids.json")
    with index_writer_lock(path, "ivf_index_compact"):
        for leftover in ("__compact__", "__old__"):
            p = os.path.join(path, f"lists.{leftover}")
            if os.path.exists(p):
                raise ValueError(
                    f"{p} exists — a pre-generation compaction crashed "
                    f"mid-swap; recover it manually before re-running"
                )
        meta = read_index_meta(meta_path)
        new_meta = dict(meta, gen=next_generation(path, meta, _IVF_GEN_FAMILIES))
        new_lists = fold_generation(
            spark, path, meta, new_meta["gen"], "lists", expire_below,
            "vec_id", "list_id",
        )
        new_meta["rows"] = int(
            spark.read.parquet(new_lists).select("vec_id").count()
        )
        new_meta["appended_rows"] = 0
        # THE commit: counters + generation pointer in one atomic rename
        publish_generation(path, "centroids.json", new_meta, _IVF_GEN_FAMILIES)
        n = 0
        for _root, _dirs, files in os.walk(new_lists):
            n += sum(1 for f in files if not f.startswith(("_", ".")))
        return n


def ivf_index_compact(spark, path: str) -> int:
    """Fold the small files `ivf_index_append` accretes back to one file
    per list directory (maintenance twin of the reference's OPTIMIZE,
    run between ingest windows — single-writer). Also drops FULL-ROW
    duplicates: a crash between `ann_index_ingest_sink`'s parquet append
    and its meta commit replays the batch as bit-identical rows
    (deterministic assignment + quantization), so distinct() removes
    exactly the replay and can never collapse genuinely different data.
    Tombstones (`index_delete`) are applied PHYSICALLY into the new
    generation — the compacted snapshot has the deleted rows gone from
    disk, not just filtered at read; the old snapshot keeps serving its
    in-flight readers (tombstone-filtered as before) until
    `index_vacuum`. Publishes a new generation with one atomic
    pointer flip — see `_ivf_relayout` for the crash story. Otherwise
    pure relayout: query results unchanged (pytest-pinned)."""
    return _ivf_relayout(spark, path, None)


def ivf_index_rebuild(
    spark,
    path: str,
    n_centroids: int | None = None,
    seed: int = 42,
) -> int:
    """Re-fit a drifted index FROM ITS OWN CONTENTS — what
    `ivf_index_append`'s ``rebuild_recommended`` (or the
    `ann_index_ingest_sink` ``on_drift`` hook) schedules. At scale the
    index often IS the vector store, so the rebuild reads the persisted
    int8 lists back, dequantizes, re-fits the quantizer (distributed
    MLlib k-means), and rewrites — no original corpus required.
    Returns the new list count.

    Fitting on dequantized vectors carries the int8 error (~0.4% of the
    max coordinate) into the centroids — far below the centroid
    movement a rebuild exists to correct. The stream cursor
    (``last_stream_batch``) carries over so an `ann_index_ingest_sink`
    can resume against the rebuilt index without replaying committed
    batches. An IVF-PQ index keeps its PQ tier: codebooks retrain at
    the same (m, k) on the surviving corpus — they age with the
    distribution exactly like the coarse centroids.

    Publishes a NEW GENERATION in place — the index path never vanishes
    (the old whole-directory rename-swap had a window where it did, and
    replaced centroids.json non-atomically): the re-fit lists land in
    ``lists.gN`` beside the live ones, and the new quantizer + pointer
    commit in one `atomic_write_json`. In-flight readers finish against
    the old snapshot; a crash before the flip leaves the live index
    byte-identical. Refuses over a pre-generation crash's leftovers."""
    import os

    for leftover in ("__rebuild__", "__old__"):
        p = path.rstrip("/") + f".{leftover}"
        if os.path.exists(p):
            raise ValueError(
                f"{p} exists — a previous rebuild crashed mid-swap; "
                f"inspect/remove it before re-running"
            )
    with index_writer_lock(path, "ivf_index_rebuild"):
        meta = read_index_meta(os.path.join(path, "centroids.json"))
        k = n_centroids or meta["n_centroids"]
        # tombstoned vectors neither participate in the re-fit nor survive
        # it — a rebuild is also a physical delete (the new generation
        # starts with an empty tombstone set)
        vecs = dequantize_embeddings(
            anti_tombstones(
                spark,
                path,
                meta,
                spark.read.parquet(gen_dir(path, "lists", meta)),
                "vec_id",
            )
        )
        g_new = next_generation(path, meta, _IVF_GEN_FAMILIES)
        extra = (
            {"last_stream_batch": meta["last_stream_batch"]}
            if "last_stream_batch" in meta
            else None
        )
        # an IVF-PQ index KEEPS its PQ tier across a rebuild: the
        # codebooks are retrained (same m/k) on the surviving corpus —
        # they age with the distribution exactly like the coarse
        # centroids, which is the whole reason the rebuild runs
        pq_m = pq_k = None
        pq_residual = False
        pq_train_rows, pq_sample = 4096, "hash"
        if meta.get("pq"):
            pq_m = int(meta["pq"]["m"])
            pq_k = int(meta["pq"]["k"])
            pq_residual = bool(meta["pq"].get("residual"))
            # retrain on the SAME sample size/mode the index was built
            # with (a custom larger sample must not shrink silently to
            # the default). A legacy pq block MISSING the 'sample' key
            # predates the key itself, and every such index was trained
            # with lowest-id ordering — so the legacy default is
            # 'lowest_id', not the current-write default 'hash'
            # (defaulting to 'hash' would silently switch sample modes
            # on rebuild, surprising pinned-recall comparisons). 'hash' is used only when a block RECORDED it.
            pq_train_rows = int(meta["pq"].get("train_rows", 4096))
            pq_sample = str(meta["pq"].get("sample", "lowest_id"))
        _ivf_index_write_locked(
            vecs, path, k, "embedding", "vec_id", seed, None,
            gen=g_new, extra_meta=extra,
            pq_m=pq_m, pq_k=pq_k if pq_k is not None else 256,
            pq_residual=pq_residual,
            pq_train_rows=pq_train_rows, pq_sample=pq_sample,
        )
        return k


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Per-list occupancy of a persisted index: (list_id, n_vectors).

    Hot-list skew is the IVF failure mode appends amplify (a frozen
    quantizer funnels a drifting distribution into few lists, making
    probes of those lists scan-heavy); this is the ops-side check that
    pairs with `ivf_index_append`'s drift guard. One column-pruned scan
    over the list partitions — vec_id only, never the vectors."""
    import os

    meta = read_index_meta(os.path.join(path, "centroids.json"))
    return (
        spark.read.parquet(gen_dir(path, "lists", meta))
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def _ivf_fsck_checks(spark, path: str, meta: dict, lists: DataFrame, n_distinct: int):
    """`index_fsck`'s IVF checks over the live lists: stored-vector dim
    vs the metadata dim, list ids outside the quantizer's range
    (corruption or a foreign file), the PQ tier's all-or-nothing
    columns, and row-counter drift (measured distinct rows vs the
    ``rows + appended_rows`` counters; beyond pending tombstones that
    is a lost update). Returns ``(measured, findings)``."""
    findings = []
    lo = 1 if meta["one_based"] else 0
    hi = meta["n_centroids"] - (0 if meta["one_based"] else 1)
    dim_min, dim_max, bad_lists = lists.select(
        F.min(F.size("qvec")),
        F.max(F.size("qvec")),
        F.coalesce(
            F.sum(
                ((F.col("list_id") < lo) | (F.col("list_id") > hi)).cast("long")
            ),
            F.lit(0),
        ),
    ).first()
    if dim_min is not None and (dim_min != meta["dim"] or dim_max != meta["dim"]):
        findings.append(
            f"stored vector dims [{dim_min}, {dim_max}] != metadata dim "
            f"{meta['dim']} — the index is corrupt or holds foreign files"
        )
    if int(bad_lists):
        findings.append(
            f"{bad_lists} rows with list_id outside [{lo}, {hi}] — "
            f"corruption or files from another quantizer"
        )

    if meta.get("pq"):
        # the PQ tier's all-or-nothing contract: every row of a pq
        # index carries codes of exactly m bytes + a stored norm
        pq_m_meta = int(meta["pq"]["m"])
        if "codes" not in lists.columns or "vnorm" not in lists.columns:
            findings.append(
                "metadata advertises a PQ tier but the lists lack "
                "codes/vnorm columns — rebuild with pq_m to restore it"
            )
        else:
            n_badcode, n_nullnorm = lists.select(
                F.coalesce(
                    F.sum(
                        (
                            F.col("codes").isNull()
                            | (F.size("codes") != pq_m_meta)
                        ).cast("long")
                    ),
                    F.lit(0),
                ),
                F.coalesce(
                    F.sum(F.col("vnorm").isNull().cast("long")), F.lit(0)
                ),
            ).first()
            if int(n_badcode) or int(n_nullnorm):
                findings.append(
                    f"PQ tier corrupt: {n_badcode} rows with missing/"
                    f"wrong-width codes (expect m={pq_m_meta}), "
                    f"{n_nullnorm} rows with null vnorm — "
                    f"ivf_index_rebuild re-encodes"
                )

    expected = int(meta.get("rows", 0)) + int(meta.get("appended_rows", 0))
    if n_distinct != expected:
        findings.append(
            f"row-counter drift: metadata says {expected} "
            f"(rows + appended_rows), lists hold {n_distinct} distinct — "
            f"beyond pending tombstones/expiry this means a lost update"
        )
    return {"rows": n_distinct}, findings


def ivf_recall_at_k(
    queries: DataFrame,
    path: str,
    corpus: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    rerank_corpus: DataFrame | None = None,
    rerank: int = 4,
) -> float:
    """Measured recall@k of a persisted IVF index against brute-force
    cosine ground truth over the SAME corpus — the quality number that
    pairs with the drift guard (drift says "the quantizer aged";
    recall says how much that costs where it matters). Returns
    |IVF top-k ∩ exact top-k| / |exact top-k| averaged over queries.

    Both sides run with self-exclusion (the corpus-self-join contract),
    so pass corpus rows as queries. The exact side is the
    `brute_force_topk` baseline (corpus never shuffles, one broadcast
    of the query block); the IVF side is the partition-pruned serving
    path. Recall < 1 has TWO sources: probe misses (a true neighbor in
    an unprobed list) and int8 re-rank rounding at the k boundary —
    pass ``rerank_corpus`` (the full-precision relation) to eliminate
    the second and isolate the first (probing ALL lists with it is
    pinned to exactly 1.0 in tests)."""
    exact = brute_force_topk(
        queries, corpus, k=k, emb_col=emb_col, id_col=id_col
    ).select("query_id", "vec_id")
    approx = ivf_index_query(
        queries,
        path,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        emb_col=emb_col,
        id_col=id_col,
        rerank_corpus=rerank_corpus,
    ).select("query_id", "vec_id")
    hit = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    denom = exact.count()
    return (hit / denom) if denom else 1.0


def ivf_index_query(
    queries: DataFrame,
    path: str,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    rerank_corpus: DataFrame | None = None,
    exclude_self: bool = True,
    meta: dict | None = None,
    shortlist: str = "auto",
) -> DataFrame:
    """Query a persisted `ivf_index_write` index: (query_id, vec_id, sim,
    rank) — same contract as `ivf_topk`.

    ``shortlist`` picks the approximate scorer that ranks candidates
    before the exact re-rank: ``'int8'`` scores the quantized vectors
    natively (`dot_expr` over ``qvec``); ``'pq'`` runs the ADC table
    scan over the ``m``-byte PQ codes (`operators/pq.py` — requires an
    index built with ``pq_m``; the scan then reads only
    (list_id, vec_id, vnorm, codes), ~16x less than a float32 scan).
    ``'auto'`` (default) uses PQ when the index carries codebooks,
    else int8 — so a pq-built index serves through its compressed tier
    without callers changing. The exact re-rank contract is identical
    either way; only shortlist RECALL differs (measured in tests).

    ``meta`` is the MVCC snapshot handle: pass a previously-loaded
    ``centroids.json`` dict to plan THIS query against that generation
    even if maintenance has flipped the pointer since — the read-side
    half of the generation contract (`gen_dir`: a retired generation's
    files are never touched until `index_vacuum`, so a reader that
    resolved its metadata before a flip finishes against complete
    data). Default None loads the live metadata — the ordinary case.

    Probe lists are collected driver-side (the query set is small by
    definition) and pushed as a STATIC ``list_id IN (...)`` filter, so
    the parquet scan prunes to the probed partition directories before a
    single byte of the others is read. Scoring runs on the int8 vectors
    (scale cancels out of cosine); the top ``rerank * k`` per query
    re-rank against dequantized vectors — the re-rank scan is bounded to
    the shortlist's vec_ids (a broadcast left-semi join against the
    materialized |queries| x rerank*k shortlist — the PQ
    tier's IO win holds by default with no driver-side id collect) —
    or bit-true full-precision ones if ``rerank_corpus`` (the original
    relation) is given.

    ``exclude_self`` keeps the corpus-self-join `ivf_topk` contract (a
    vector is not its own neighbor). Pass ``False`` for EXTERNAL
    queries whose ids live in a different id space than the corpus:
    comparing a string query id against bigint vec_ids throws under
    ANSI mode, and a numeric query id that happens to equal a doc's
    vec_id would silently drop that doc (`hybrid_search` passes
    False)."""
    import os

    spark = queries.sparkSession
    if meta is None:
        meta = read_index_meta(os.path.join(path, "centroids.json"))
    cent = meta["centroids"]

    q = queries.select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb"))
    d = _centroid_dists(F.col("q_emb"), cent)
    probes = (
        q.withColumn("__d", d)
        .select("query_id", "q_emb", F.posexplode(F.col("__d")).alias("pos", "dist"))
        .withColumn(
            "c_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("pos"))
            ),
        )
        .filter(F.col("c_rank") <= nprobe)
        .select(
            "query_id",
            "q_emb",
            (F.col("pos") + (1 if meta["one_based"] else 0)).alias("list_id"),
        )
    )
    probe_ids = sorted({r["list_id"] for r in probes.select("list_id").distinct().collect()})
    if shortlist not in ("auto", "int8", "pq"):
        raise ValueError(
            f"shortlist must be 'auto', 'int8', or 'pq', got {shortlist!r}"
        )
    if shortlist == "pq" and not meta.get("pq"):
        raise ValueError(
            "shortlist='pq' needs an index built with pq_m (no PQ "
            "codebooks in this index's metadata); rebuild with "
            "ivf_index_write(..., pq_m=...) or query with shortlist='int8'"
        )
    use_pq = shortlist == "pq" or (shortlist == "auto" and bool(meta.get("pq")))
    probes = probes.withColumn("__qn", norm_expr(F.col("q_emb")))
    # directories resolve through the metadata read above: the query is
    # pinned to ONE generation even if maintenance publishes a new one
    # mid-flight (snapshot isolation — gen_dir)
    if use_pq:
        from geoscan_fraud_spark.operators.pq import _adc_local_topk

        # the ADC tier reads ONLY the code columns — column pruning
        # reaches the parquet scan, so each probed row costs ~m+8 bytes
        lists = anti_tombstones(
            spark,
            path,
            meta,
            spark.read.parquet(gen_dir(path, "lists", meta))
            .filter(F.col("list_id").isin(probe_ids))
            .select("list_id", "vec_id", "vnorm", "codes"),
            "vec_id",
        )
        if meta["pq"].get("residual"):
            # residual codes approximate r = v - c_list; the exact base
            # term dot(q, c_list) is pure column algebra over centroid
            # literals — evaluated on PROBES (one row per query x probed
            # list) BEFORE the candidate join, so the fold runs
            # |queries| * nprobe times, not once per candidate
            # one JVM-parsed literal (guide §5): the nested
            # F.array(F.lit) form made n_centroids x dim py4j calls
            # (~1000 round-trips of driver latency per query
            # construction); `_dlit` literals are bit-identical to
            # F.lit(float)
            from geoscan_fraud_spark.functions.sqltext import _dlit

            arr = F.expr(
                "array("
                + ",".join(
                    "array(" + ",".join(_dlit(v) for v in ctr) + ")"
                    for ctr in cent
                )
                + ")"
            )
            idx = F.col("list_id") + F.lit(0 if meta["one_based"] else 1)
            probes = probes.withColumn(
                "adot_base",
                dot_expr(F.col("q_emb"), F.element_at(arr, idx.cast("int"))),
            )
        cand = probes.join(lists, "list_id")
        if exclude_self:
            cand = cand.filter(F.col("query_id") != F.col("vec_id"))
        local = _adc_local_topk(
            cand,
            meta["pq"]["codebooks"],
            rerank * k,
            cand.schema["vec_id"].dataType,
        )
        wq = Window.partitionBy("query_id").orderBy(
            F.desc("sim_q"), F.asc("vec_id")
        )
        shortlist_df = (
            local.withColumn("__r", F.row_number().over(wq))
            .filter(F.col("__r") <= rerank * k)
            .select("query_id", "vec_id")
            # re-attach the query vector from q (one row per query by
            # construction — no dedup aggregation needed; AQE broadcasts)
            .join(q.withColumn("__qn", norm_expr(F.col("q_emb"))), "query_id")
            .select("query_id", "q_emb", "__qn", "vec_id")
        )
    else:
        lists = anti_tombstones(
            spark,
            path,
            meta,
            spark.read.parquet(gen_dir(path, "lists", meta)).filter(
                F.col("list_id").isin(probe_ids)
            ),
            "vec_id",
        ).withColumn("__vn", norm_expr(F.col("qvec")))
        cand = probes.join(lists, "list_id")
        if exclude_self:
            cand = cand.filter(F.col("query_id") != F.col("vec_id"))
        cand = (
            cand
            .withColumn(
                "sim_q",
                dot_expr(F.col("q_emb"), F.col("qvec")) / (F.col("__qn") * F.col("__vn")),
            )
        )
        wq = Window.partitionBy("query_id").orderBy(F.desc("sim_q"), F.asc("vec_id"))
        shortlist_df = (
            cand.withColumn("__r", F.row_number().over(wq))
            .filter(F.col("__r") <= rerank * k)
            .select("query_id", "q_emb", "__qn", "vec_id")
        )
    shortlist = shortlist_df
    if rerank_corpus is not None:
        full = rerank_corpus.select(
            F.col(id_col).alias("vec_id"), F.col(emb_col).alias("c_emb")
        )
    else:
        # bound the re-rank scan to the SHORTLIST rows: the
        # shortlist is |queries| x rerank*k by construction, so it
        # materializes once (the ADC/int8 scan is not recomputed per
        # consumer) and bounds the dequantize pass to shortlist rows,
        # not every row of the probed lists. Without this the PQ tier's
        # IO win was only real when callers passed rerank_corpus: the
        # default path re-read the full int8 vectors of all probed
        # partitions on top of the codes scan.
        # The bound is a broadcast
        # LEFT-SEMI join against the checkpointed shortlist's vec_ids,
        # not a driver collect + In(...) literal — at |queries| x
        # rerank*k scale the literal list was a driver materialization
        # and a giant InSet in the plan, and the extra collect was a
        # measured +0.3-0.4 s action per query at sf0.1. The semi join
        # keeps the pruning (the build side reads cached checkpoint
        # blocks; Spark's runtime bloom-filter join pushdown recovers
        # row-group pruning on the probed scan) with ZERO extra driver
        # actions. The static list_id IN(probe_ids) partition prune is
        # unchanged — only probed directories are read at all.
        shortlist = shortlist.localCheckpoint(eager=True)
        full = dequantize_embeddings(
            spark.read.parquet(gen_dir(path, "lists", meta))
            .filter(F.col("list_id").isin(probe_ids))
            .join(
                F.broadcast(shortlist.select("vec_id").distinct()),
                "vec_id",
                "left_semi",
            )
        ).withColumnRenamed("embedding", "c_emb")
    rescored = shortlist.join(
        full.withColumn("__cn", norm_expr(F.col("c_emb"))), "vec_id"
    ).withColumn(
        "sim",
        F.round(
            dot_expr(F.col("q_emb"), F.col("c_emb"))
            / (F.col("__qn") * F.col("__cn")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )
