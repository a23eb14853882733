"""Harness entries for the LLM-data-pipeline operators (SURVEY §2.10):
dedup, similarity search, text analysis, multimodal plumbing — over the
`documents` / `embeddings` fixtures, with DuckDB oracles wherever the
semantics are SQL-expressible (cosine folds verified bit-exact between
engines; md5 fingerprints are engine-portable by construction).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from geoscan_fraud_spark.harness import (
    _events_coords,
    _ordered,
    _t,
    register,
    scratch_dir,
)
from geoscan_fraud_spark.operators import dedup as dd
from geoscan_fraud_spark.operators import multimodal as mm
from geoscan_fraud_spark.operators import similarity as sim
from geoscan_fraud_spark.operators import text as tx
from geoscan_fraud_spark.operators.text import LANG_PROFILES

# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    sql="""
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(d, ["text"]).select("doc_id")


def _with_neardups(spark, sf_dir):
    """documents + mutated copies (every 13th word dropped, id+10^6) — the
    deterministic near-dup workload for the MinHash/SimHash entries. Each
    drop breaks ~3 of the 3-gram shingles, so a 1-in-13 drop rate keeps
    shingle Jaccard ~0.6 — above the 0.5 dedup threshold."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), r"\s+")
    mutated = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.filter(words, lambda w, i: (i % 13) != 5),
        ).alias("text"),
    )
    return d.unionByName(mutated)


#: SQL fragment mirroring `_with_neardups` (Spark: drop every word at
#: 0-based index i where i % 13 == 5; DuckDB lists are 1-based).
_NEARDUP_DOCS_SQL = """
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           [tok[i] FOR i IN range(1, len(tok) + 1) IF (i - 1) % 13 != 5], ' ')
           AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM documents))
"""


def _minhash_md5_oracle(n_hashes: int = 48, bands: int = 12, threshold: float = 0.5) -> str:
    """Full MinHash-LSH dedup as one DuckDB statement: ONE portable
    60-bit md5 digest per shingle (hex-slice cast, identical to Spark's
    `conv(substr(md5(..),1,15),16,10)`), H universal-hash variants over
    the digest halves (exact int64 arithmetic both engines — constants
    shared via `dedup.minhash_mix_params`), band-bucket self-join, exact
    Jaccard verify, connected components via recursive CTE, keep min id."""
    r = n_hashes // bands
    a_mul, b_mul, c_xor = dd.minhash_mix_params(n_hashes)
    lo_mask = (1 << 30) - 1
    sig_aggs = ",\n             ".join(
        f"min(({a_mul[i]} * (xor(h, {c_xor[i]}::BIGINT) & {lo_mask})"
        f" + {b_mul[i]} * (xor(h, {c_xor[i]}::BIGINT) >> 30)"
        f" + {i}) % {dd.MINHASH_MOD}) AS mh_{i}"
        for i in range(n_hashes)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bh FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"mh_{b * r + j}" for j in range(r)),
        )
        for b in range(bands)
    )
    return f"""
    WITH RECURSIVE {_NEARDUP_DOCS_SQL.strip()},
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(tok) >= 3
               THEN [array_to_string(tok[i+1:i+3], ' ') FOR i IN range(0, len(tok) - 2)]
               ELSE [array_to_string(tok, ' ')] END) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM docs)),
    hs AS (SELECT doc_id,
                  ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS h
           FROM sh),
    sig AS MATERIALIZED (
      SELECT doc_id,
             {sig_aggs}
      FROM hs GROUP BY doc_id),
    banded AS MATERIALIZED (
      {band_selects}),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
                                 AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b
      WHERE CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.grams, sb.grams))) >= {threshold}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM verified
      UNION ALL
      SELECT id_b, id_a FROM verified),
    reach(id, root) AS (
      SELECT a, a FROM edges GROUP BY a
      UNION
      SELECT e.b, reach.root FROM reach JOIN edges e ON e.a = reach.id),
    comp AS (SELECT id, min(root) AS component FROM reach GROUP BY id),
    dropped AS (SELECT id FROM comp WHERE id <> component)
    SELECT doc_id FROM docs
    WHERE doc_id NOT IN (SELECT id FROM dropped)
    ORDER BY doc_id
    """


@register("dedup_minhash", sql=_minhash_md5_oracle())
def dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup dedup: shingle -> minhash -> band-bucket join
    -> exact-Jaccard verify -> connected components -> keep min id.

    Driver entry runs the md5-signature variant (`sig_hash='md5'`) so the
    WHOLE pipeline — signatures, banding, candidate join, verify, CC — is
    value-oracled against DuckDB (xxhash64 isn't portable; md5 is). The
    xxhash64 default remains the 100 TB path; tests assert both variants
    keep the same document set on this workload."""
    docs = _with_neardups(spark, sf_dir)
    kept = dd.minhash_dedup(
        docs, threshold=0.5, n=3, num_hashes=48, bands=12, sig_hash="md5"
    )
    return _ordered(kept.select("doc_id"), "doc_id")


# ngram_jaccard_pairs is no longer a registered entry; the exact
# intersect/union Jaccard arithmetic stays driver-evidenced INSIDE the
# hash-green `dedup_minhash` (its candidate-verify stage keeps exactly
# the pairs whose shingle Jaccard >= threshold, and the oracle replays
# the same len(list_intersect)/len(list_distinct(list_concat)) algebra);
# the pairwise values stay pinned against python set arithmetic in
# tests/test_round8_fixes.py.
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact token-set Jaccard between consecutive docs — pins the verify
    arithmetic used by the LSH dedup path."""
    d = _t(spark, sf_dir, "documents")
    tok = F.array_distinct(F.split(F.col("text"), " "))
    t = d.select(F.col("doc_id"), tok.alias("tok"))
    a = t.select(F.col("doc_id").alias("id_a"), F.col("tok").alias("ta"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("tok").alias("tb"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("ta", "tb")).cast("double")
                / F.size(F.array_union("ta", "tb"))
            ).alias("jaccard"),
        )
    )


_SIMHASH_MAX_H = 6


def _simhash_md5_oracle(max_hamming: int = _SIMHASH_MAX_H) -> str:
    """SimHash pairs as DuckDB SQL: 60-bit md5-derived token hashes
    (identical to Spark's `conv(substring(md5(t),1,15),16,10)` — both are
    the integer value of the first 15 hex chars), per-bit sign counts,
    pigeonhole chunk join, Hamming verify."""
    nbits = dd.simhash_bits("md5")
    counts = ",\n             ".join(
        f"sum((h >> {b}) & 1) AS c_{b}" for b in range(nbits)
    )
    packed = "\n           + ".join(
        f"(CASE WHEN 2 * c_{b} >= n THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(nbits)
    )
    chunk_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {ci} AS ci, (sh >> {off}) & {(1 << width) - 1} AS cv FROM sig"
        for ci, (off, width) in enumerate(
            dd.simhash_chunk_bounds(nbits, max_hamming)
        )
    )
    return f"""
    WITH {_NEARDUP_DOCS_SQL.strip()},
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM docs),
    tokh AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
    cnt AS (SELECT doc_id, count(*) AS n,
             {counts}
            FROM tokh GROUP BY doc_id),
    sig AS (SELECT doc_id,
             {packed}
             AS sh
            FROM cnt),
    ch AS (
      {chunk_selects}),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ch a JOIN ch b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT c.id_a, c.id_b, CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE bit_count(xor(sa.sh, sb.sh)) <= {max_hamming}
    ORDER BY id_a, id_b
    """


@register("dedup_simhash", sql=_simhash_md5_oracle())
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs, fully value-oracled: the md5-signature
    variant (60-bit portable token hashes) lets DuckDB replay signature
    construction, the complete (max_hamming+1)-chunk pigeonhole blocking,
    and the Hamming verify. The xxhash64 64-bit default stays the scale
    path (benched; blocking completeness pinned against brute force in
    tests/test_round2_fixes.py)."""
    docs = _with_neardups(spark, sf_dir)
    return (
        _ordered(
            dd.simhash_pairs(docs, max_hamming=_SIMHASH_MAX_H, sig_hash="md5")
            .withColumn("hamming", F.col("hamming").cast("long")),
            "id_a", "id_b",
        )
    )


def _embedding_lsh_oracle(dim: int = 64, planes: int = 16, seed: int = 42,
                          threshold: float = 0.98) -> str:
    """Hyperplane-LSH near-dup as DuckDB SQL. The seeded hyperplanes are
    deterministic given (dim, planes, seed), so they are baked in as
    double literals (repr round-trips IEEE doubles exactly); the sign-dot
    and cosine folds are bit-exact between Spark's left-fold aggregate and
    DuckDB's list_dot_product (established by ann_cosine_topk)."""
    hp = dd._hyperplanes(dim, planes, seed)
    def lit(plane):
        return "[" + ",".join(repr(v) for v in plane) + "]::DOUBLE[]"
    bucket = "\n             + ".join(
        f"(CASE WHEN list_dot_product(e, {lit(p)}) >= 0 THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(hp)
    )
    cos = ("list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e))"
           " * sqrt(list_dot_product(b.e, b.e)))")
    return f"""
    WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
    u AS (
      SELECT id, e FROM c
      UNION ALL
      SELECT id + 1000000 AS id, list_transform(e, x -> x * 1.000001) AS e FROM c),
    k AS (
      SELECT id, e,
             {bucket} AS bucket
      FROM u)
    SELECT a.id AS id_a, b.id AS id_b, ROUND({cos}, 6) AS cosine
    FROM k a JOIN k b ON a.bucket = b.bucket AND a.id < b.id
    WHERE {cos} >= {threshold}
    ORDER BY id_a, id_b
    """


@register("dedup_embedding_lsh", sql=_embedding_lsh_oracle())
def dedup_embedding_lsh(spark, sf_dir):
    """Embedding cosine near-dup via random-hyperplane LSH, fully
    value-oracled: the seeded hyperplanes are baked into the oracle SQL as
    literals, so bucketing AND verification replay exactly in DuckDB."""
    e = _t(spark, sf_dir, "embeddings")
    dup = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
        "label",
    )
    return (
        _ordered(
            dd.embedding_neardup_pairs(e.unionByName(dup), threshold=0.98)
            .withColumn("cosine", F.round("cosine", 6)),
            "id_a", "id_b",
        )
    )


@register(
    "semantic_decontam",
    sql="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    para AS (SELECT vec_id + 1000000 AS vec_id,
                    list_transform(e, x -> x * (CASE WHEN x > 0 THEN 1.2 ELSE 1.0 END)) AS e
             FROM c WHERE vec_id % 97 = 0),
    corpus AS (SELECT * FROM c UNION ALL SELECT * FROM para),
    b AS (SELECT e, sqrt(list_dot_product(e, e)) AS n FROM c
          WHERE vec_id % 97 = 0 AND sqrt(list_dot_product(e, e)) > 0),
    cc AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS n FROM corpus
           WHERE sqrt(list_dot_product(e, e)) > 0)
    SELECT cc.vec_id AS vec_id,
           ROUND(MAX(list_dot_product(cc.e, b.e) / (cc.n * b.n)), 6) AS max_sim
    FROM cc, b GROUP BY cc.vec_id
    HAVING MAX(list_dot_product(cc.e, b.e) / (cc.n * b.n)) >= 0.9
    ORDER BY vec_id
    """,
)
def semantic_decontam(spark, sf_dir):
    """Embedding-space decontamination hits (`operators/decontam.
    semantic_contamination_hits`): benchmark = every 97th vector, corpus
    = all vectors plus planted 'paraphrases' of the benchmark rows
    (positive coordinates scaled 1.2x — cosine ~0.996, well above the
    0.9 threshold while natural pairs top out ~0.35). Exercises both hit
    tiers: exact benchmark copies at 1.0 and paraphrases at ~0.996. The
    probe itself is map-only — the benchmark folds into one broadcast
    row and the corpus never shuffles (the hit aggregation carries only
    flagged rows)."""
    from geoscan_fraud_spark.operators.decontam import (
        semantic_contamination_hits,
    )

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    para = e.filter(F.col("vec_id") % 97 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: x * F.when(x > 0, F.lit(1.2)).otherwise(F.lit(1.0)),
        ).alias("embedding"),
    )
    bench = e.filter(F.col("vec_id") % 97 == 0).select("embedding")
    hits = semantic_contamination_hits(
        e.unionByName(para),
        bench,
        threshold=0.9,
        emb_col="embedding",
        id_col="vec_id",
    )
    return _ordered(hits.withColumn("max_sim", F.round("max_sim", 6)), "vec_id")


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


# ann_cosine_topk is no longer a registered entry (it was hash-green; its
# DuckDB oracle replayed the cosine via list_dot_product).
# Brute-force cosine top-k algebra stays driver-evidenced by TWO
# still-registered hash-green entries: `ann_ivf_topk` (its exact
# re-rank stage computes the identical cosine + (sim desc, id asc)
# window top-k over the probed candidates) and `rrf_fusion` (its dense
# leg IS this function — `sim.brute_force_topk` over the same fixture
# queries, replayed end-to-end in the fusion oracle). The exact
# sim/rank values stay pinned against a numpy cosine oracle in
# tests/test_round8_fixes.py, and the bench still times it.
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k baseline (left-fold accumulation verified
    bit-exact against DuckDB's list_dot_product)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return sim.brute_force_topk(q, e, k=10).withColumn(
        "rank", F.col("rank").cast("long")
    )


_IVF_N, _IVF_NPROBE, _IVF_K = 16, 4, 10
_IVF_CENTROID_CACHE: dict[str, list[list[float]]] = {}


def _ivf_centroids(sf_dir: str) -> list[list[float]]:
    """Deterministic Lloyd quantizer over the sf_dir's embeddings (driver-
    side numpy, fixed init) — the SAME centroid doubles feed the Spark
    plan as literals and the DuckDB oracle as SQL literals."""
    if sf_dir not in _IVF_CENTROID_CACHE:
        import numpy as np
        import pyarrow.parquet as pq

        t = (
            pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
            .to_pandas()
            .sort_values("vec_id")
        )
        X = np.stack([np.asarray(v, dtype=np.float64) for v in t["embedding"]])
        _IVF_CENTROID_CACHE[sf_dir] = sim.lloyd_centroids(X, _IVF_N)
    return _IVF_CENTROID_CACHE[sf_dir]


def _ivf_oracle_sql(
    corpus_where: str = "",
    reads: tuple = (),
    exclude_self: bool = True,
    cte_only: bool = False,
) -> str:
    """IVF probe as DuckDB SQL over centroid literals, shared by
    `ann_ivf_topk`, the lifecycle entry, and the hybrid-serving
    oracle. The correctness gate runs at sf=0.01 (driver contract), so
    the quantizer is derived from that fixture — the SAME fixed
    centroid set the Spark plans feed, at every sf. ``corpus_where``
    restricts the INDEXED corpus only (queries stay drawn from the full
    table — a deleted doc's embedding is still a legal external query);
    ``reads`` cross-joins a ``read_mode`` tag so one oracle covers both
    the live and the stale MVCC read of the same survivor snapshot.
    ``exclude_self=False`` mirrors `ivf_index_query(exclude_self=
    False)` — the external-query contract the hybrid dense leg runs
    with. ``cte_only=True`` returns just the CTE chain (no ``WITH``
    keyword, no final SELECT) ending in ``topk(query_id, vec_id, sim,
    rank)``, for embedding in a larger WITH (the RRF fusion oracle)."""
    cent = _ivf_centroids("/root/testdata/sf0.01")

    def lit(v):
        return "[" + ",".join(repr(x) for x in v) + "]::DOUBLE[]"

    def d2(col, ctr):
        L = lit(ctr)
        return (
            f"(list_dot_product({col}, {col}) + list_dot_product({L}, {L})"
            f" - 2.0 * list_dot_product({col}, {L}))"
        )

    d_corpus = "[" + ",\n            ".join(d2("e", c) for c in cent) + "]"
    d_query = "[" + ",\n            ".join(d2("qe", c) for c in cent) + "]"
    cos = (
        "list_dot_product(p.qe, a.e) / (sqrt(list_dot_product(p.qe, p.qe))"
        " * sqrt(list_dot_product(a.e, a.e)))"
    )
    self_filter = "WHERE p.query_id <> a.vec_id" if exclude_self else ""
    topk = f"""
    c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT id AS query_id, e AS qe FROM c WHERE id < 5),
    assigned AS (
      SELECT id AS vec_id, e, list_position(d, list_min(d)) AS list_id
      FROM (SELECT id, e, {d_corpus} AS d FROM c{corpus_where})),
    qd AS (SELECT query_id, qe, {d_query} AS d FROM q),
    qpos AS (SELECT query_id, qe, i AS pos, d[i] AS dist
             FROM qd, range(1, {_IVF_N} + 1) t(i)),
    probes AS (
      SELECT query_id, qe, pos AS list_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dist ASC, pos ASC) AS r
        FROM qpos) WHERE r <= {_IVF_NPROBE}),
    scored AS (
      SELECT p.query_id, a.vec_id, ROUND({cos}, 6) AS sim
      FROM probes p JOIN assigned a USING (list_id)
      {self_filter}),
    topk AS (
      SELECT query_id, vec_id, sim, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored) WHERE rank <= {_IVF_K})
    """
    if cte_only:
        return topk
    if not reads:
        return "WITH " + topk + "SELECT query_id, vec_id, sim, rank FROM topk"
    vals = ", ".join(f"('{r}')" for r in reads)
    return "WITH " + topk + (
        f"SELECT query_id, vec_id, sim, rank, read_mode FROM topk "
        f"CROSS JOIN (VALUES {vals}) AS rm(read_mode)"
    )


def _ivf_oracle() -> str:
    """Resolved lazily via `resolved_oracles` (this reads a fixture
    file; at import time that would be a single-point-of-failure for
    the whole registry)."""
    return _ivf_oracle_sql()


@register("ann_ivf_topk", sql=_ivf_oracle)
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN, fully value-oracled: a deterministic driver-side Lloyd
    quantizer is shared as double literals between the Spark plan and the
    DuckDB oracle, so assignment, probing, and the cosine top-k all
    replay exactly. The quantizer is a FIXED model artifact trained on
    the sf0.01 sample (textbook IVF: train the coarse quantizer on a
    sample, apply it to any corpus) — which is also what keeps the static
    oracle SQL valid at every sf the harness runs at. The MLlib-KMeans
    quantizer stays the distributed scale path (recall vs brute force
    asserted in tests)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cent = _ivf_centroids("/root/testdata/sf0.01")
    return sim.ivf_topk(
        q, e, k=_IVF_K, n_centroids=_IVF_N, nprobe=_IVF_NPROBE, centroids=cent
    ).withColumn("rank", F.col("rank").cast("long"))


def _ivf_lifecycle_oracle() -> str:
    return _ivf_oracle_sql(
        corpus_where=" WHERE id % 7 <> 3", reads=("live", "stale")
    )


@register("ann_ivf_incremental_query", sql=_ivf_lifecycle_oracle)
def ann_ivf_incremental_query(spark, sf_dir):
    """Serving-path ANN over the FULL index lifecycle — the dense twin of
    `bm25_incremental_query` plus the MVCC stale-read pin. Build `ivf_index_write` over the even vec_ids
    (the fixed sf0.01 Lloyd quantizer, so probes replay in SQL), append
    the odd half against the frozen centroids, tombstone every
    ``vec_id % 7 == 3`` (`index_delete`), snapshot the generation-0
    metadata, `ivf_index_compact` — tombstones applied physically, rows
    recomputed, published as generation 1 in one atomic pointer flip —
    then query TWICE: the live read (post-flip gen 1) and the STALE read
    planned against the pre-flip metadata handle while gen 1 is live.
    Both are tagged and unioned; the oracle is the exact probed cosine
    top-k over the survivor corpus, cross-joined with both tags — so
    hash-equality certifies (a) the whole append/delete/compact/flip
    lifecycle reproduces a from-scratch survivor index and (b) the MVCC
    read contract itself: a reader holding gen-0 metadata mid-flip still
    sees complete, tombstone-filtered data. The index builds with the RESIDUAL PQ tier (``pq_m=8``) and both reads
    serve through it (``shortlist='auto'`` resolves to ADC) — so the
    hash row also certifies the compressed tier's plumbing end to end:
    residual encode at build, meta-driven encode at append, codes
    through compaction, codebooks in both generations' metadata, and
    the ``dot(q, c_list)`` base-term algebra. The oracle NEVER changes:
    ``rerank=64`` makes the shortlist cover every probed candidate at
    the gate sf, so neither the ADC nor an int8 stage can perturb the
    exact re-rank (full-precision ``rerank_corpus``); approximate-tier
    shortlist recall is pinned separately by `ivf_recall_at_k` and
    `test_pq.py`."""
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_compact,
        ivf_index_query,
        ivf_index_write,
    )
    from geoscan_fraud_spark.sources.io import index_delete, read_index_meta

    e = _t(spark, sf_dir, "embeddings")
    cent = _ivf_centroids("/root/testdata/sf0.01")
    path = scratch_dir("ivf_inc_entry_") + "/idx"
    ivf_index_write(
        e.filter(F.col("vec_id") % 2 == 0), path, centroids=cent,
        pq_m=8, pq_k=16, pq_residual=True,
    )
    ivf_index_append(e.filter(F.col("vec_id") % 2 == 1), path)
    index_delete(
        spark, path, e.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    )
    import os as _os

    stale_meta = read_index_meta(_os.path.join(path, "centroids.json"))
    ivf_index_compact(spark, path)  # flips to gen 1 while we hold gen 0
    q = e.filter(F.col("vec_id") < 5)

    def read(meta, tag):
        return ivf_index_query(
            q, path, k=_IVF_K, nprobe=_IVF_NPROBE, rerank=64,
            rerank_corpus=e, meta=meta,
        ).withColumn("read_mode", F.lit(tag))

    return (
        read(None, "live")
        .unionByName(read(stale_meta, "stale"))
        .withColumn("rank", F.col("rank").cast("long"))
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


# text_token_stats is no longer a registered entry; the
# tokenize-and-count algebra stays driver-evidenced by the hash-green
# `text_quality` (same whitespace tokenization, token counts, and
# distinct ratio over the same table) and `token_shards` (the same
# len(string_split(trim(text))) token count is its shard-size input);
# the full stat row (incl. the TOKEN_PATTERN regex count) stays pinned
# against a python oracle in tests/test_round8_fixes.py, and the bench
# still times it.
def text_token_stats(spark, sf_dir):
    return tx.token_stats(_t(spark, sf_dir, "documents"))


_STOPLIST_SQL = "[" + ",".join(f"'{w}'" for w in tx.EN_STOPWORDS) + "]"


@register(
    "text_quality",
    sql=f"""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tok FROM documents),
    m AS (
      SELECT doc_id, len(tok) AS n,
             CAST(len(list_filter(tok, x -> list_contains({_STOPLIST_SQL}, x))) AS DOUBLE)
               / len(tok) AS stop_ratio,
             CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) AS distinct_ratio
      FROM t)
    SELECT doc_id, n AS n_tokens,
           ROUND(stop_ratio, 4) AS stopword_ratio,
           ROUND(distinct_ratio, 4) AS distinct_ratio,
           ROUND(0.4 * (CASE WHEN n BETWEEN 20 AND 1000 THEN 1.0
                             ELSE LEAST(n / 20.0, 1.0) END)
                 + 0.3 * LEAST(stop_ratio * 5.0, 1.0)
                 + 0.3 * distinct_ratio, 4) AS quality
    FROM m
    """,
)
def text_quality(spark, sf_dir):
    return tx.quality_score(_t(spark, sf_dir, "documents"))


def _lang_sql() -> str:
    """Replays the script-first lang_id (operators/text.py): Unicode
    script codepoint counts (same literal character-class patterns —
    valid in both Java regex and RE2), argmax script gated on >=
    SCRIPT_SHARE_MIN of non-whitespace chars, else the marker-word
    vote. DuckDB counts matches via len(regexp_extract_all)."""
    from geoscan_fraud_spark.operators.text import SCRIPT_RANGES, SCRIPT_SHARE_MIN

    sc_counts = ",\n           ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS c_{s}"
        for s, pat in SCRIPT_RANGES.items()
    )
    scripts = list(SCRIPT_RANGES)
    sc_max = "GREATEST(" + ",".join(f"c_{s}" for s in scripts) + ")"
    # first-declared wins ties — mirrors the Spark fold's strict '>'
    sc_case = " ".join(f"WHEN c_{s} = sm THEN '{s}'" for s in scripts)
    scores = ",\n           ".join(
        "len(list_intersect(tok, ["
        + ",".join(f"'{w}'" for w in words)
        + f"])) AS s_{lang}"
        for lang, words in LANG_PROFILES.items()
    )
    langs = list(LANG_PROFILES)
    m = "GREATEST(" + ",".join(f"s_{lang}" for lang in langs) + ")"
    case = " ".join(f"WHEN s_{lang} = m THEN '{lang}'" for lang in langs)
    return f"""
    WITH t AS (SELECT doc_id, text,
                      list_distinct(string_split(trim(text), ' ')) AS tok,
                      length(regexp_replace(text, '\\s', '', 'g')) AS nws
               FROM documents),
    s AS (SELECT doc_id, nws,
           {sc_counts},
           {scores}
    FROM t),
    g AS (SELECT *, {m} AS m, {sc_max} AS sm FROM s)
    SELECT doc_id,
           CASE WHEN nws > 0 AND CAST(sm AS DOUBLE) / nws >= {SCRIPT_SHARE_MIN}
                THEN (CASE {sc_case} END)
                WHEN m = 0 THEN 'und' {case} END AS lang_pred,
           CASE WHEN nws > 0 AND CAST(sm AS DOUBLE) / nws >= {SCRIPT_SHARE_MIN}
                THEN sm ELSE m END AS lang_score
    FROM g
    """


@register("text_lang_id", sql=_lang_sql())
def text_lang_id(spark, sf_dir):
    return tx.lang_id(_t(spark, sf_dir, "documents")).withColumn(
        "lang_score", F.col("lang_score").cast("long")
    )


@register(
    "text_winnow_fingerprint",
    sql="""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tok FROM documents),
    g AS (SELECT doc_id,
            CASE WHEN len(tok) >= 3
                 THEN [array_to_string(tok[i+1:i+3], ' ') for i in range(0, len(tok) - 2)]
                 ELSE [array_to_string(tok, ' ')] END AS grams
          FROM t),
    h AS (SELECT doc_id, list_transform(grams, x -> md5(x)) AS hs FROM g),
    m AS (SELECT doc_id,
            CASE WHEN len(hs) >= 4
                 THEN [list_min(hs[i+1:i+4]) for i in range(0, len(hs) - 3)]
                 ELSE [list_min(hs)] END AS mins
          FROM h),
    d AS (SELECT doc_id, list_sort(list_distinct(mins)) AS dm FROM m)
    SELECT doc_id, len(dm) AS n_fingerprints,
           md5(array_to_string(dm, ',')) AS fingerprint
    FROM d
    """,
)
def text_winnow_fingerprint(spark, sf_dir):
    """Winnowing (rolling k-gram md5, min per window) — engine-portable
    hashes, full value oracle."""
    return tx.winnow_fingerprints(_t(spark, sf_dir, "documents"), k=3, window=4)


def _gram_list_sql(n: int) -> str:
    """DuckDB word n-grams over ``tok`` — the `word_grams` convention
    (shorter-than-n docs yield one whole-text gram); 1-based inclusive
    list slices, same pattern as the winnow oracle."""
    return (
        f"CASE WHEN len(tok) >= {n} "
        f"THEN [array_to_string(tok[i+1:i+{n}], ' ') "
        f"      for i in range(0, len(tok) - {n - 1})] "
        f"ELSE [array_to_string(tok, ' ')] END"
    )


@register(
    "text_repetition",
    sql=f"""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tok FROM documents),
    g AS (SELECT doc_id, {_gram_list_sql(2)} AS g2, {_gram_list_sql(3)} AS g3 FROM t),
    m2 AS (SELECT doc_id, max(c) AS mx FROM (
             SELECT doc_id, gm, count(*) AS c
             FROM (SELECT doc_id, unnest(g2) AS gm FROM g) GROUP BY 1, 2)
           GROUP BY 1),
    m3 AS (SELECT doc_id, max(c) AS mx FROM (
             SELECT doc_id, gm, count(*) AS c
             FROM (SELECT doc_id, unnest(g3) AS gm FROM g) GROUP BY 1, 2)
           GROUP BY 1)
    SELECT g.doc_id,
           ROUND((len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE), 4)
             AS dup_frac_2,
           ROUND(m2.mx / CAST(len(g2) AS DOUBLE), 4) AS top_frac_2,
           ROUND((len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE), 4)
             AS dup_frac_3,
           ROUND(m3.mx / CAST(len(g3) AS DOUBLE), 4) AS top_frac_3
    FROM g JOIN m2 USING (doc_id) JOIN m3 USING (doc_id)
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher repetition signals: per-n duplicate-gram fraction +
    top-gram share, replayed in DuckDB as list algebra (the engine counts
    gram multiplicity per document in one Arrow pass; the oracle groups
    the unnested grams — same value, independent mechanism)."""
    return tx.repetition_stats(_t(spark, sf_dir, "documents"), ns=(2, 3))


@register(
    "token_entropy",
    sql="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
    e AS (SELECT doc_id, unnest(tok) AS w FROM t),
    c AS (SELECT doc_id, w, count(*) AS c FROM e GROUP BY 1, 2),
    a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, sum(c * ln(c)) AS clogc
          FROM c GROUP BY 1)
    SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
           ROUND(ln(n) - clogc / n, 4) AS entropy
    FROM a
    """,
)
def token_entropy(spark, sf_dir):
    """Shannon token entropy: the engine's map-only sort +
    run-length fold vs the oracle's closed-form group-and-sum — H =
    ln N - (1/N)·Σ c·ln c must agree to the rounded 4 decimals."""
    return tx.token_entropy(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# BPE text -> token ids (pinned mini-fixture golden)
# ---------------------------------------------------------------------------

#: deterministic mini-corpus for the BPE golden: enough shared subwords
#: (low/lower/lowest, new/newer/newest, wide/wider/widest) that 20 merges
#: learn real morphology; ASCII-only so Spark's UTF8 binary string order
#: and Python's codepoint order agree on every tiebreak.
_BPE_DOCS: list[tuple[int, str]] = [
    (0, "low lower lowest low low"),
    (1, "new newer newest new new"),
    (2, "wide wider widest wide"),
    (3, "the lower river runs wider and wider"),
    (4, "newest ideas flow lower than the lowest tide"),
    (5, "low tide and high tide turn the wide river"),
    (6, "wider and wider the newest river grows"),
    (7, "the low road and the high road"),
    (8, "lower the newest sail on the widest mast"),
    (9, "new low new low new low"),
    (10, "the the the widest widest river"),
    (11, "lowest newest widest lowest newest widest"),
]

_BPE_NUM_MERGES = 20


def _bpe_ids_oracle() -> str:
    """Expected (doc_id, token_ids) computed by an INDEPENDENT pure-Python
    Sennrich-recipe reference (train: max summed weight, lexicographic
    (a, b) tiebreak, min_freq 2, leftmost greedy apply; encode:
    rank-priority merges; vocab: freq desc / token asc, ids from 1 —
    the `operators/bpe.py` contract), emitted as a literal VALUES table.
    The same pinned-golden pattern as the geoscan fit entries: the
    distributed trainer/encoder must reproduce the reference exactly."""
    from collections import Counter

    end = "</w>"
    wc: Counter = Counter()
    for _, t in _BPE_DOCS:
        for w in t.split():
            wc[w.lower()] += 1

    def apply(syms: list, a: str, b: str) -> list:
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    state = {w: list(w) + [end] for w in wc}
    merges: list[tuple[str, str]] = []
    for _ in range(_BPE_NUM_MERGES):
        pc: Counter = Counter()
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc[w]
        if not pc:
            break
        top = max(pc.values())
        if top < 2:  # min_freq
            break
        best = min(p for p, c in pc.items() if c == top)
        merges.append(best)
        state = {w: apply(s, *best) for w, s in state.items()}

    ranks = {p: i for i, p in enumerate(merges)}

    def encode(w: str) -> list:
        syms = list(w) + [end]
        while len(syms) > 1:
            cand = [
                ranks[(syms[i], syms[i + 1])]
                for i in range(len(syms) - 1)
                if (syms[i], syms[i + 1]) in ranks
            ]
            if not cand:
                break
            a, b = merges[min(cand)]
            syms = apply(syms, a, b)
        return syms

    seg = {d: [s for w in t.split() for s in encode(w.lower())] for d, t in _BPE_DOCS}
    freq: Counter = Counter(tok for toks in seg.values() for tok in toks)
    vocab = {
        tok: i + 1
        for i, tok in enumerate(
            sorted(freq, key=lambda t: (-freq[t], t))
        )
    }
    rows = ",\n      ".join(
        f"({d}, {p}, {vocab[t]})"
        for d, _ in _BPE_DOCS
        for p, t in enumerate(seg[d])
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(pos AS INTEGER) AS pos,
           CAST(token_id AS INTEGER) AS token_id
    FROM (VALUES
      {rows}) AS t(doc_id, pos, token_id)
    """


@register("bpe_tokens_to_ids", sql=_bpe_ids_oracle)
def bpe_tokens_to_ids(spark, sf_dir):
    """End-to-end distributed tokenizer golden: train BPE
    merges on the pinned mini-corpus (`train_bpe` — one corpus shuffle +
    vocabulary-sized merge rounds), segment (`bpe_segment`, map-only
    Arrow-batched), build the frequency-ranked vocab and map to ids
    (`tokens_to_ids`, broadcast vocab join). The oracle is a literal
    table generated by an independent Python Sennrich reference — every
    stage must agree exactly.

    Output is posexploded to one `(doc_id, pos, token_id)` row per token
    (not the `array<int>` column `tokens_to_ids` returns) so the driver's
    pandas canonicalizer can sort it — list cells are unhashable there."""
    from geoscan_fraud_spark.operators.bpe import (
        bpe_segment,
        build_vocab,
        tokens_to_ids,
        train_bpe,
        word_counts,
    )

    docs = spark.createDataFrame(_BPE_DOCS, "doc_id long, text string")
    merges = train_bpe(word_counts(docs), num_merges=_BPE_NUM_MERGES)
    seg = bpe_segment(docs, merges)
    ids = tokens_to_ids(seg, build_vocab(seg))
    return ids.select(
        "doc_id", F.posexplode("token_ids").alias("pos", "token_id")
    )


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    sql=r"""
    WITH b AS (
      SELECT doc_id AS blob_id,
             CASE doc_id % 4
               WHEN 0 THEN '\x89\x50\x4E\x47'::BLOB || encode(text)
               WHEN 1 THEN '\xFF\xD8\xFF'::BLOB || encode(text)
               WHEN 2 THEN '\x52\x49\x46\x46'::BLOB || encode(text)
               ELSE encode(text) END AS payload
      FROM documents)
    SELECT blob_id,
           CAST(octet_length(payload) AS BIGINT) AS byte_len,
           CASE WHEN left(hex(payload), 8) = '89504E47' THEN 'image/png'
                WHEN left(hex(payload), 6) = 'FFD8FF' THEN 'image/jpeg'
                WHEN left(hex(payload), 8) = '52494646' THEN 'audio/wav'
                ELSE 'application/octet-stream' END AS sniffed_type,
           CAST(32 AS BIGINT) AS n_features
    FROM b
    """,
)
def multimodal_features(spark, sf_dir):
    """Binary-column pipeline, value-oracled: payloads
    get deterministic magic-byte headers (PNG/JPEG/RIFF/none by
    blob_id % 4) so the JVM-side sniff dispatch actually branches, and
    byte_len + sniffed_type replay in DuckDB blob algebra. The fake
    feature kernel (mapInPandas) stays IN the executed plan — the oracle
    pins its row alignment and 32-dim output shape via n_features; the
    crc32 and blake2b feature VALUES are pinned against independent
    python in tests/test_pipeline_ops.py::
    test_multimodal_crc32_and_feature_values since DuckDB has neither."""
    blobs = mm.documents_as_blobs(_t(spark, sf_dir, "documents"))
    headered = blobs.withColumn(
        "payload",
        F.concat(
            F.when(F.col("blob_id") % 4 == 0, F.expr("X'89504E47'"))
            .when(F.col("blob_id") % 4 == 1, F.expr("X'FFD8FF'"))
            .when(F.col("blob_id") % 4 == 2, F.expr("X'52494646'"))
            .otherwise(F.expr("X''")),
            F.col("payload"),
        ),
    )
    meta = mm.attach_blob_metadata(headered)
    feats = mm.extract_features(headered)
    return meta.select(
        "blob_id",
        F.col("byte_len").cast("long").alias("byte_len"),
        "sniffed_type",
    ).join(
        feats.select("blob_id", F.size("features").cast("long").alias("n_features")),
        "blob_id",
    )


# ---------------------------------------------------------------------------
# batch assembly (operators/packing.py)
# ---------------------------------------------------------------------------


@register(
    "chunk_documents",
    sql="""
    WITH t AS (SELECT doc_id,
                      [x FOR x IN string_split(trim(text), ' ')
                         IF length(x) > 0] AS tok
               FROM documents),
    n AS (SELECT doc_id, tok, len(tok) AS n FROM t WHERE len(tok) > 0),
    c AS (SELECT doc_id, tok,
                 GREATEST(CAST(ceil((n - 8) / 24.0) AS BIGINT), 1) AS n_chunks
          FROM n),
    x AS (SELECT doc_id, tok, unnest(range(0, n_chunks)) AS i FROM c)
    SELECT doc_id, i AS chunk_idx,
           array_to_string(tok[i*24 + 1 : i*24 + 32], ' ') AS chunk_text,
           CAST(len(tok[i*24 + 1 : i*24 + 32]) AS BIGINT) AS n_tokens
    FROM x
    """,
)
def chunk_documents_entry(spark, sf_dir):
    """Context-window chunking (operators/packing.py): 32-token windows
    with 8-token overlap (stride 24), replayed in DuckDB as 1-based
    inclusive list slices — both engines clamp the final short chunk the
    same way. Map-only in Spark (sequence/slice/posexplode, no shuffle)."""
    from geoscan_fraud_spark.operators.packing import chunk_documents

    out = chunk_documents(_t(spark, sf_dir, "documents"), max_tokens=32, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


@register(
    "vocab_token_frequencies",
    sql="""
    WITH toks AS (
      SELECT doc_id, lower(u.t) AS token
      FROM documents, unnest(string_split(trim(text), ' ')) AS u(t)
      WHERE length(u.t) > 0)
    SELECT token, CAST(count(*) AS BIGINT) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM toks GROUP BY token
    ORDER BY freq DESC, token ASC LIMIT 200
    """,
)
def vocab_token_frequencies(spark, sf_dir):
    """Corpus vocabulary (operators/packing.py) with the fixture's stable
    doc_id for doc_freq — top-200 by frequency, token as
    tiebreaker. Generalizes the reference's sum(lit(1)) TF grouping
    (`01:399-403`) from tiles to tokens. The fixture's text is
    single-space tokenized (same contract text_token_stats pins), so the
    DuckDB split mirrors Spark's \\s+ exactly."""
    from geoscan_fraud_spark.operators.packing import token_frequencies

    return token_frequencies(
        _t(spark, sf_dir, "documents"), k=200, id_col="doc_id"
    )


# ---------------------------------------------------------------------------
# weighted sampling, incremental dedup
# ---------------------------------------------------------------------------


@register(
    "weighted_sample",
    sql="""
    SELECT doc_id FROM (
      SELECT doc_id,
             pow((('0x' || substr(md5(doc_id::VARCHAR || '-' || '7'), 1, 15))::BIGINT
                    + 1) / 1152921504606846976.0,
                 1.0 / n_chars) AS k
      FROM documents WHERE n_chars > 0
      ORDER BY k DESC, doc_id LIMIT 100)
    ORDER BY doc_id
    """,
)
def weighted_sample_entry(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling (operators/sampling.py):
    key = u^(1/w) with u a 60-bit md5-slice uniform — bit-identical
    between engines, so DuckDB replays the exact sample membership.
    Spark plans the top-k as TakeOrderedAndProject (per-partition heaps,
    no global sort)."""
    from geoscan_fraud_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return (
        _ordered(
            weighted_sample(d, "n_chars", 100, seed=7).select("doc_id"),
            "doc_id",
        )
    )


def _incremental_md5_oracle(
    n_hashes: int = 48, bands: int = 12, threshold: float = 0.5
) -> str:
    """Full incremental-dedup replay as one DuckDB statement: index
    signatures over `documents`, a batch of mutated near-dups (+1e6 ids)
    and exact copies (+2e6 ids, doc_id % 7 = 0), band join batch-vs-index
    and batch-internal, signature-ESTIMATED Jaccard (fraction of equal
    components — the operator never touches indexed text), recursive-CTE
    connected components, component-level drop rule."""
    r = n_hashes // bands
    a_mul, b_mul, c_xor = dd.minhash_mix_params(n_hashes)
    lo_mask = (1 << 30) - 1
    sig_aggs = ",\n             ".join(
        f"min(({a_mul[i]} * (xor(h, {c_xor[i]}::BIGINT) & {lo_mask})"
        f" + {b_mul[i]} * (xor(h, {c_xor[i]}::BIGINT) >> 30)"
        f" + {i}) % {dd.MINHASH_MOD}) AS mh_{i}"
        for i in range(n_hashes)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bh FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"mh_{b * r + j}" for j in range(r)),
        )
        for b in range(bands)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(n_hashes)
    )
    return f"""
    WITH RECURSIVE
    batch AS (
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(
               [tok[i] FOR i IN range(1, len(tok) + 1) IF (i - 1) % 13 != 5], ' ')
               AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM documents)
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0),
    alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id, text FROM batch),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(tok) >= 3
               THEN [array_to_string(tok[i+1:i+3], ' ') FOR i IN range(0, len(tok) - 2)]
               ELSE [array_to_string(tok, ' ')] END) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM alldocs)),
    hs AS (SELECT doc_id,
                  ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS h
           FROM sh),
    sig AS MATERIALIZED (
      SELECT doc_id,
             {sig_aggs}
      FROM hs GROUP BY doc_id),
    banded AS MATERIALIZED (
      {band_selects}),
    bband AS (SELECT * FROM banded WHERE doc_id >= 1000000),
    iband AS (SELECT * FROM banded WHERE doc_id < 1000000),
    cand_ix AS (
      SELECT DISTINCT nb.doc_id AS nid, ib.doc_id AS oid
      FROM bband nb JOIN iband ib ON nb.band = ib.band AND nb.bh = ib.bh),
    est_ix AS (
      SELECT DISTINCT c.nid AS id
      FROM cand_ix c
      JOIN sig a ON a.doc_id = c.nid
      JOIN sig b ON b.doc_id = c.oid
      WHERE ({eq_sum}) / {n_hashes}.0 >= {threshold}),
    cand_in AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bband x JOIN bband y ON x.band = y.band AND x.bh = y.bh
                               AND x.doc_id < y.doc_id),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand_in c
      JOIN sig a ON a.doc_id = c.id_a
      JOIN sig b ON b.doc_id = c.id_b
      WHERE ({eq_sum}) / {n_hashes}.0 >= {threshold}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs),
    reach(id, root) AS (
      SELECT a, a FROM edges GROUP BY a
      UNION
      SELECT e.b, reach.root FROM reach JOIN edges e ON e.a = reach.id),
    comp AS (SELECT id, min(root) AS component FROM reach GROUP BY id),
    comp_matched AS (
      SELECT DISTINCT component FROM comp
      WHERE id IN (SELECT id FROM est_ix)),
    dropped AS (
      SELECT id FROM est_ix
      UNION
      SELECT id FROM comp
      WHERE component IN (SELECT component FROM comp_matched)
      UNION
      SELECT id FROM comp WHERE id <> component)
    SELECT doc_id FROM batch
    WHERE doc_id NOT IN (SELECT id FROM dropped)
    ORDER BY doc_id
    """


@register("dedup_incremental", sql=_incremental_md5_oracle())
def dedup_incremental(spark, sf_dir):
    """Incremental dedup against a persisted signature index
    (operators/incremental.py): the corpus is indexed as (id, sig) rows;
    an incoming batch — mutated near-dups + exact copies — is deduped
    against the index and within itself, signature-only. The md5 hash
    family makes the WHOLE path (signatures, banding, estimates, CC,
    component drop rule) value-replayable in DuckDB."""
    from geoscan_fraud_spark.operators import incremental as inc

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), r"\s+")
    mutated = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.filter(words, lambda w, i: (i % 13) != 5)
        ).alias("text"),
    )
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    batch = mutated.unionByName(copies)
    # materialized like a production index (which is a parquet table on
    # disk): dedup_against_index consumes the index twice (banding + the
    # estimate join) and recomputing the signature pipeline per consumer
    # would double the entry's cost. bands= pre-computes the band-hash
    # array at build — identical buckets to per-batch re-hashing
    # (parity pinned in test_round7_fixes), so the oracle replay of the
    # banding from signatures stays exact.
    idx = inc.minhash_index(
        docs, num_hashes=48, sig_hash="md5", bands=12
    ).localCheckpoint(eager=True)
    kept = inc.dedup_against_index(
        batch, idx, num_hashes=48, bands=12, threshold=0.5, sig_hash="md5"
    )
    return _ordered(kept.select("doc_id"), "doc_id")


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup) + unigram-LM perplexity
# ---------------------------------------------------------------------------


def _semantic_dedup_oracle(threshold: float = 0.98) -> str:
    """SemDeDup as one DuckDB statement over the SAME fixed centroid
    literals the Spark plan uses: nearest-centroid assignment (squared-L2
    via the dot-product identity, first index on ties — both engines
    1-based first-occurrence), within-cluster cosine pairs, recursive-CTE
    connected components, keep min id."""
    cent = _ivf_centroids("/root/testdata/sf0.01")

    def lit(v):
        return "[" + ",".join(repr(x) for x in v) + "]::DOUBLE[]"

    def d2(ctr):
        L = lit(ctr)
        return (
            f"(list_dot_product(e, e) + list_dot_product({L}, {L})"
            f" - 2.0 * list_dot_product(e, {L}))"
        )

    d_arr = "[" + ",\n            ".join(d2(c) for c in cent) + "]"
    cos = ("list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e))"
           " * sqrt(list_dot_product(b.e, b.e)))")
    return f"""
    WITH RECURSIVE c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
    u AS (
      SELECT id, e FROM c
      UNION ALL
      SELECT id + 1000000 AS id, list_transform(e, x -> x * 1.000001) AS e FROM c),
    k AS (
      SELECT id, e, list_position(d, list_min(d)) AS cl
      FROM (SELECT id, e, {d_arr} AS d FROM u)),
    verified AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM k a JOIN k b ON a.cl = b.cl AND a.id < b.id
      WHERE {cos} >= {threshold}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM verified
      UNION ALL
      SELECT id_b, id_a FROM verified),
    reach(id, root) AS (
      SELECT a, a FROM edges GROUP BY a
      UNION
      SELECT e2.b, reach.root FROM reach JOIN edges e2 ON e2.a = reach.id),
    comp AS (SELECT id, min(root) AS component FROM reach GROUP BY id),
    dropped AS (SELECT id FROM comp WHERE id <> component)
    SELECT id AS vec_id FROM u
    WHERE id NOT IN (SELECT id FROM dropped)
    ORDER BY vec_id
    """


@register("semantic_dedup", sql=_semantic_dedup_oracle)
def semantic_dedup_entry(spark, sf_dir):
    """SemDeDup-style semantic dedup (operators/similarity.py): k-means
    blocking + within-cluster cosine + connected components + keep min
    id. Runs the fixed-centroid quantizer (sf0.01 Lloyd literals — the
    same set `ann_ivf_topk` shares with its oracle) so the assignment
    replays bit-exactly in DuckDB; the in-cluster cosines come from the
    BLAS Gram kernel and match the oracle's left-fold by margin (see
    `semantic_pairs`' boundary contract). The seeded MLlib-KMeans fit
    stays the 100 TB path (recall pinned in pytest)."""
    cent = _ivf_centroids("/root/testdata/sf0.01")
    e = _t(spark, sf_dir, "embeddings")
    dup = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
        "label",
    )
    return _ordered(
        sim.semantic_dedup(
            e.unionByName(dup), threshold=0.98, centroids=cent
        ),
        "vec_id",
    )


_LM_ALPHA = 0.5


def _lm_perplexity_oracle(alpha: float = _LM_ALPHA) -> str:
    """Unigram-LM scoring as DuckDB SQL: train on doc_id % 10 != 0
    (add-alpha smoothing), score every document by mean NLL. The
    smoothing denominator and OOV mass use the same exact-integer counts
    both engines compute; ln/avg round to 6 (floating sum order is
    engine-specific)."""
    return f"""
    WITH tok AS (
      SELECT doc_id, u.t FROM documents,
             unnest(string_split(trim(text), ' ')) AS u(t)
      WHERE length(u.t) > 0),
    cnt AS (
      SELECT t, count(*) AS c FROM tok WHERE doc_id % 10 != 0 GROUP BY t),
    tot AS (SELECT sum(c) AS n, count(*) AS v FROM cnt),
    lm AS (
      SELECT t, ln((c + {alpha}) / (n + {alpha} * (v + 1))) AS logp
      FROM cnt, tot),
    oov AS (SELECT ln({alpha} / (n + {alpha} * (v + 1))) AS logp FROM tot),
    sc AS (
      SELECT tok.doc_id,
             count(*) AS n_tokens,
             -avg(coalesce(lm.logp, (SELECT logp FROM oov))) AS nll
      FROM tok LEFT JOIN lm ON tok.t = lm.t
      GROUP BY tok.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           ROUND(sc.nll, 6) AS nll,
           ROUND(exp(sc.nll), 6) AS ppl
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    ORDER BY d.doc_id
    """


def _url_features_oracle() -> str:
    """URL parsing + ccSLD-aware registered-domain + path depth as DuckDB
    SQL over URLs BOTH engines derive identically from the documents
    fixture (scheme/userinfo/ccSLD/path-depth variety keyed off doc_id) —
    the host regexp is RE2/Java-portable by construction."""
    from geoscan_fraud_spark.operators.web import _HOST_RE, CC_SLDS

    slds = "[" + ",".join(f"'{s}'" for s in CC_SLDS) + "]"
    return f"""
    WITH d AS (
      SELECT doc_id,
             'https://'
             || CASE WHEN doc_id % 5 = 0 THEN 'u:p@' ELSE '' END
             || source
             || CASE WHEN doc_id % 2 = 0 THEN '.example.com'
                     ELSE '.shop.co.uk' END
             || CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN '/'
                     WHEN 2 THEN '/a/b' ELSE '/a/b/c?x=1' END AS url
      FROM documents),
    h AS (
      SELECT doc_id,
             lower(regexp_extract(url, '{_HOST_RE}', 1)) AS host,
             regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*(/[^?#]*)', 1) AS path
      FROM d),
    lab AS (
      SELECT doc_id, host, path, string_split(host, '.') AS labels
      FROM h),
    dom AS (
      SELECT doc_id, host, path,
             CASE WHEN len(labels) <= 2 THEN host
                  WHEN list_contains({slds},
                         array_to_string(labels[len(labels)-1:len(labels)], '.'))
                  THEN array_to_string(labels[len(labels)-2:len(labels)], '.')
                  ELSE array_to_string(labels[len(labels)-1:len(labels)], '.')
             END AS domain
      FROM lab)
    SELECT doc_id, host, domain,
           CAST(CASE WHEN path IS NULL OR path = '' THEN 0
                ELSE len(list_filter(string_split(path, '/'),
                                     x -> length(x) > 0)) END AS INT)
             AS path_depth
    FROM dom
    ORDER BY doc_id
    """


@register("url_features", sql=_url_features_oracle())
def url_features(spark, sf_dir):
    """URL provenance features (operators/web.py — the C4/RefinedWeb
    pre-text filter): host (scheme/userinfo/port stripped), ccSLD-aware
    registered domain, path depth — all map-only native regexp/list
    algebra. The URLs are derived deterministically from the documents
    fixture with scheme/userinfo/ccSLD/path variety so every branch of
    the parser is exercised and replayed."""
    from geoscan_fraud_spark.operators.web import extract_url_features

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("u:p@")).otherwise(F.lit("")),
            F.col("source"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".example.com")).otherwise(
                F.lit(".shop.co.uk")
            ),
            F.element_at(
                F.array(F.lit(""), F.lit("/"), F.lit("/a/b"), F.lit("/a/b/c?x=1")),
                (F.col("doc_id") % 4).cast("int") + 1,
            ),
        ).alias("url"),
    )
    return _ordered(extract_url_features(d), "doc_id")


_CM_DEPTH, _CM_WIDTH, _CM_SEED = 4, 256, 42


def _countmin_oracle() -> str:
    """The count-min sketch CELLS as DuckDB SQL: same md5-slice hash
    family (portable 60-bit bigint), same (row, col) cells, same grouped
    counts — every cell of the sketch must match."""
    rows = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS row, "
        f"('0x' || substr(md5(t || '|{r ^ _CM_SEED}'), 1, 15))::BIGINT "
        f"% {_CM_WIDTH} AS col FROM tok"
        for r in range(_CM_DEPTH)
    )
    return f"""
    WITH tok AS (
      SELECT u.t FROM documents,
             unnest(string_split(trim(text), ' ')) AS u(t)
      WHERE length(u.t) > 0),
    cells AS (
      {rows})
    SELECT row, col, count(*) AS c FROM cells GROUP BY row, col
    ORDER BY row, col
    """


@register("countmin_sketch", sql=_countmin_oracle())
def countmin_sketch(spark, sf_dir):
    """Count-min corpus frequency sketch (operators/profiling.py) in the
    oracle-portable md5 hash family: the registered relation is the
    SKETCH ITSELF — depth x width grouped-count cells — so the driver
    value-hashes every cell against DuckDB's independent build. The
    xxhash64 family stays the JVM-native production default; merge and
    estimate paths are pytest-pinned."""
    from geoscan_fraud_spark.operators.profiling import countmin_profile

    return _ordered(
        countmin_profile(
            _t(spark, sf_dir, "documents"),
            depth=_CM_DEPTH,
            width=_CM_WIDTH,
            seed=_CM_SEED,
            hash_fn="md5",
        ),
        "row", "col",
    )


def _dsir_oracle(alpha: float = _LM_ALPHA) -> str:
    """DSIR importance weights as DuckDB SQL: two add-alpha unigram LMs
    (target = doc_id % 17 == 0 slice, raw = whole corpus), per-doc
    log-ratio sum with per-side OOV masses — the `lm_perplexity` replay
    pattern applied twice."""
    return f"""
    WITH tok AS (
      SELECT doc_id, u.t FROM documents,
             unnest(string_split(trim(text), ' ')) AS u(t)
      WHERE length(u.t) > 0),
    tcnt AS (
      SELECT t, count(*) AS c FROM tok WHERE doc_id % 17 = 0 GROUP BY t),
    ttot AS (SELECT coalesce(sum(c), 0) AS n, count(*) AS v FROM tcnt),
    tlm AS (
      SELECT t, ln((c + {alpha}) / (n + {alpha} * (v + 1))) AS lp
      FROM tcnt, ttot),
    toov AS (SELECT ln({alpha} / (n + {alpha} * (v + 1))) AS lp FROM ttot),
    rcnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    rtot AS (SELECT coalesce(sum(c), 0) AS n, count(*) AS v FROM rcnt),
    rlm AS (
      SELECT t, ln((c + {alpha}) / (n + {alpha} * (v + 1))) AS lp
      FROM rcnt, rtot),
    roov AS (SELECT ln({alpha} / (n + {alpha} * (v + 1))) AS lp FROM rtot),
    sc AS (
      SELECT tok.doc_id, count(*) AS n_tokens,
             sum(coalesce(tl.lp, (SELECT lp FROM toov))
                 - coalesce(rl.lp, (SELECT lp FROM roov))) AS lw
      FROM tok
      LEFT JOIN tlm tl ON tok.t = tl.t
      LEFT JOIN rlm rl ON tok.t = rl.t
      GROUP BY tok.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           ROUND(coalesce(sc.lw, 0.0), 6) AS log_weight
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    ORDER BY d.doc_id
    """


@register("dsir_importance_weights", sql=_dsir_oracle())
def dsir_importance_weights(spark, sf_dir):
    """DSIR data selection (operators/dsir.py, Xie et al. 2023): log
    likelihood-ratio of every document between a target-slice unigram LM
    and the raw-corpus LM — the importance weight the resampling draw
    uses. Scoring is ONE broadcast join against the full-outer-merged
    vocabulary; the corpus never shuffles for it. (The draw itself is
    seeded top-k — `weighted_sample_log` — evidenced by the hash-green
    `weighted_sample` entry.)"""
    from geoscan_fraud_spark.operators.dsir import importance_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 17 == 0)
    t_lm, t_oov = tx.fit_unigram_lm(target, alpha=_LM_ALPHA)
    r_lm, r_oov = tx.fit_unigram_lm(docs, alpha=_LM_ALPHA)
    return _ordered(importance_weights(docs, t_lm, t_oov, r_lm, r_oov), "doc_id")


def _bigram_oracle(alpha: float = _LM_ALPHA, lam: float = 0.7) -> str:
    """Interpolated bigram scoring as DuckDB SQL: train on the
    doc_id % 10 != 0 slice, score every document. Pairs come from a
    per-doc index comprehension (first token has NULL context); the
    interpolation P = lam*P_big + (1-lam)*P_uni mirrors
    `bigram_perplexity_score` term for term, with the stored-constant
    unknown-context denominator alpha*(V+1)."""
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), x -> length(x) > 0)
               AS tok
      FROM documents),
    p AS (
      SELECT doc_id,
             [struct_pack(
                w1 := CASE WHEN i = 0 THEN NULL ELSE tok[i] END,
                w2 := tok[i + 1]) for i in range(0, len(tok))] AS prs
      FROM t WHERE len(tok) > 0),
    e AS (
      SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2
      FROM (SELECT doc_id, unnest(prs) AS pr FROM p)),
    uni AS (
      SELECT u.t AS t, count(*) AS c
      FROM t, unnest(tok) AS u(t) WHERE doc_id % 10 != 0 GROUP BY u.t),
    tot AS (SELECT coalesce(sum(c), 0) AS n, count(*) AS v FROM uni),
    univ AS (
      SELECT t,
             (c + {alpha}) / (n + {alpha} * (v + 1)) AS p,
             c + {alpha} * (v + 1) AS cd
      FROM uni, tot),
    const AS (
      SELECT {alpha} * (v + 1) AS av1,
             {alpha} / (n + {alpha} * (v + 1)) AS p_oov
      FROM tot),
    big AS (
      SELECT w1, w2, count(*) AS c12 FROM e
      WHERE doc_id % 10 != 0 AND w1 IS NOT NULL GROUP BY w1, w2),
    sc AS (
      SELECT e.doc_id, count(*) AS n_tokens,
             -avg(CASE WHEN e.w1 IS NULL
                  THEN ln(coalesce(u2.p, c0.p_oov))
                  ELSE ln({lam} * ((coalesce(b.c12, 0) + {alpha})
                                   / coalesce(u1.cd, c0.av1))
                          + {1.0 - lam} * coalesce(u2.p, c0.p_oov)) END)
               AS nll
      FROM e
      LEFT JOIN big b ON e.w1 = b.w1 AND e.w2 = b.w2
      LEFT JOIN univ u1 ON e.w1 = u1.t
      LEFT JOIN univ u2 ON e.w2 = u2.t
      CROSS JOIN const c0
      GROUP BY e.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           ROUND(sc.nll, 6) AS nll,
           ROUND(exp(sc.nll), 6) AS ppl
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    ORDER BY d.doc_id
    """


@register("lm_bigram", sql=_bigram_oracle())
def lm_bigram(spark, sf_dir):
    """Interpolated bigram-LM scoring (operators/text.py::fit_bigram_lm /
    bigram_perplexity_score): add-alpha conditional bigrams interpolated
    with the unigram (P = 0.7·P_big + 0.3·P_uni), trained on the
    doc_id % 10 != 0 slice, scoring EVERY document (held-out docs
    exercise the unknown-context and OOV paths). Pairs build map-side
    from each doc's token array; scoring is three broadcast joins + one
    per-doc agg — the corpus never shuffles for the model."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    bg, ug, oov = tx.fit_bigram_lm(train, alpha=_LM_ALPHA)
    return _ordered(
        tx.bigram_perplexity_score(docs, bg, ug, oov, alpha=_LM_ALPHA),
        "doc_id",
    )


def lm_perplexity(spark, sf_dir):
    """Unigram-LM perplexity scoring (operators/text.py): train an
    add-alpha unigram model on the doc_id % 10 != 0 slice (one groupBy
    over the exploded corpus; totals folded as literals, the tf-idf
    eager-scalar pattern), score EVERY document — held-out docs exercise
    the OOV path — by mean negative log-probability. The CCNet-recipe
    quality filter in its simplest trainable form; the scoring join is
    broadcast (vocabulary-sized right side), so the corpus never
    shuffles for it.

    Not registered: the identical unigram-LM algebra is load-bearing
    inside the hash-green `ppl_buckets` entry — its oracle literally embeds
    `_lm_perplexity_oracle()` as the `base` CTE — and the closed-form
    python value pin lives at `tests/test_semantic_lm.py::
    test_lm_closed_form_tiny_corpus`; bench.py still times it."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    lm, oov = tx.fit_unigram_lm(train, alpha=_LM_ALPHA)
    return _ordered(tx.perplexity_score(docs, lm, oov), "doc_id")


_SPAN_L = 8


def _spans_oracle(L: int = _SPAN_L) -> str:
    """ExactSubstr repeated-span removal as DuckDB SQL — an INDEPENDENT
    mechanism: the oracle counts gram STRINGS directly (list slices
    joined on chr(31)) where the engine counts xxhash64 fingerprints,
    replays first-occurrence exemption as a row_number window, and does
    token removal via a NOT EXISTS interval probe instead of the
    engine's native merged-interval fold. Every value (rebuilt text,
    token counts) must agree exactly."""
    return f"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
               FROM documents),
    p AS (SELECT doc_id, ts,
                 unnest(range(0, greatest(len(ts) - {L} + 1, 0))) AS pos FROM t),
    g AS (SELECT doc_id, pos,
                 array_to_string(ts[pos + 1 : pos + {L}], chr(31)) AS gm FROM p),
    cnt AS (SELECT gm, count(*) AS c FROM g GROUP BY 1),
    r AS (SELECT doc_id, pos, gm,
                 row_number() OVER (PARTITION BY gm ORDER BY doc_id, pos) AS rn
          FROM g),
    marked AS (SELECT r.doc_id, r.pos FROM r JOIN cnt USING (gm)
               WHERE cnt.c > 1 AND r.rn > 1),
    tokpos AS (SELECT doc_id, ts, unnest(range(0, len(ts))) AS tpos FROM t),
    tok AS (SELECT doc_id, ts[tpos + 1] AS tok, tpos FROM tokpos),
    kept AS (SELECT tok.doc_id, tok.tok, tok.tpos FROM tok
             WHERE NOT EXISTS (
               SELECT 1 FROM marked m WHERE m.doc_id = tok.doc_id
                 AND tok.tpos >= m.pos AND tok.tpos < m.pos + {L})),
    reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS text,
                   count(*) AS n_kept FROM kept GROUP BY 1)
    SELECT t.doc_id,
           coalesce(reb.text, '') AS text,
           CAST(len(t.ts) AS INTEGER) AS n_tokens,
           CAST(len(t.ts) - coalesce(reb.n_kept, 0) AS INTEGER) AS removed_tokens
    FROM t LEFT JOIN reb USING (doc_id)
    ORDER BY doc_id
    """


@register("remove_repeated_spans", sql=_spans_oracle())
def remove_repeated_spans(spark, sf_dir):
    """ExactSubstr repeated-span removal (operators/spans.py, Lee et al.
    2021 arXiv:2107.06499): every maximal token span of >= 8 tokens that
    occurs more than once corpus-wide is deleted in place, the
    corpus-FIRST occurrence (by (doc_id, pos)) exempted — the paper's
    remove-all-but-one semantics. The engine's suffix-array replacement
    is a gram-frequency pass: map-side slice+hash inventory, one
    8-byte-key count shuffle, marking join, native per-doc interval
    merge. The oracle recomputes everything from gram strings."""
    from geoscan_fraud_spark.operators.spans import remove_repeated_spans as rrs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _ordered(rrs(docs, min_len=_SPAN_L, keep="first"), "doc_id")


def _ppl_buckets_oracle() -> str:
    """CCNet head/middle/tail on top of the unigram-LM scores: DuckDB
    quantile_cont replays Spark's exact `percentile` (both linear
    interpolation at q*(n-1)); both engines bucket the SAME rounded
    (6 dp) perplexities, so the cuts agree to the bit unless a doc sits
    exactly on an interpolated boundary (impossible here: (n-1)/3 is not
    integral for the 500-doc fixture and cuts interpolate strictly
    between distinct rounded samples)."""
    return f"""
    WITH base AS ({_lm_perplexity_oracle()}),
    c AS (SELECT quantile_cont(ppl, [1.0/3.0, 2.0/3.0]) AS q FROM base)
    SELECT b.doc_id, b.ppl,
           CASE WHEN b.ppl IS NULL THEN NULL
                WHEN b.ppl <= c.q[1] THEN 'head'
                WHEN b.ppl <= c.q[2] THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM base b, c
    ORDER BY b.doc_id
    """


@register("ppl_buckets", sql=_ppl_buckets_oracle())
def ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (operators/text.py
    ::perplexity_buckets; Wenzek et al. 2020 §4.4): unigram-LM
    scores from the same train slice as `lm_perplexity`, split at the
    exact 1/3 and 2/3 percentiles (exact=True — the oracle-parity path;
    production uses the mergeable `percentile_approx` sketch default),
    boundary row broadcast back so labeling is map-only."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    lm, oov = tx.fit_unigram_lm(train, alpha=_LM_ALPHA)
    scored = tx.perplexity_score(docs, lm, oov).select("doc_id", "ppl")
    return _ordered(tx.perplexity_buckets(scored, exact=True), "doc_id")


def _bpe_decode_oracle() -> str:
    """Expected (doc_id, text) for the decode round trip, from the SAME
    independent Python Sennrich reference as `_bpe_ids_oracle`: joining
    a word's BPE symbols and replacing the end marker with a space
    reconstructs the lowercased word sequence exactly, so the literal
    expectation is simply each pinned doc's normalized text — the
    distributed train -> segment -> ids -> decode chain must land back
    on it bit-for-bit."""
    rows = ",\n      ".join(
        "({}, '{}')".format(d, " ".join(t.lower().split()).replace("'", "''"))
        for d, t in _BPE_DOCS
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, text
    FROM (VALUES
      {rows}) AS t(doc_id, text)
    ORDER BY doc_id
    """


@register("bpe_ids_roundtrip", sql=_bpe_decode_oracle)
def bpe_ids_roundtrip(spark, sf_dir):
    """Tokenizer decode golden (`operators/bpe.py::ids_to_text`, whose
    reassembly aggregate is `a2_collect_sorted`'s sorted-collect idiom):
    train BPE on the pinned mini-corpus, segment, map to ids, then
    DECODE the ids back through the vocabulary. The oracle is the
    normalized input text itself — a lossless round trip through all
    four distributed stages, each of which would corrupt it if wrong
    (train: bad merge order; segment: bad greedy apply; ids: vocab
    collision; decode: misordered reassembly)."""
    from geoscan_fraud_spark.operators.bpe import (
        bpe_segment,
        build_vocab,
        ids_to_text,
        tokens_to_ids,
        train_bpe,
        word_counts,
    )

    docs = spark.createDataFrame(_BPE_DOCS, "doc_id long, text string")
    merges = train_bpe(word_counts(docs), num_merges=_BPE_NUM_MERGES)
    seg = bpe_segment(docs, merges)
    vocab = build_vocab(seg)
    enc = tokens_to_ids(seg, vocab)
    return _ordered(ids_to_text(enc, vocab), "doc_id")


# ---------------------------------------------------------------------------
# token shards, BM25 search, hybrid RRF fusion, HTML extraction
# ---------------------------------------------------------------------------

_SHARD_TOKENS = 2000

#: DuckDB twin of `retrieval.search_tokens` (lower -> trim -> \s+ split,
#: empties filtered)
_SEARCH_TOK_SQL = (
    "list_filter(regexp_split_to_array(lower(trim({c})), '\\s+'), t -> t <> '')"
)


@register(
    "token_shards",
    sql=f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(trim(text), ' ')) AS n_tokens,
             md5('42:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents),
    s AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(CAST(n_tokens AS BIGINT)) OVER (
               ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS off
      FROM t)
    SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(floor(off / {_SHARD_TOKENS}) AS BIGINT) AS shard
    FROM s
    """,
)
def token_shards(spark, sf_dir):
    """Deterministic token-balanced training-shard assignment
    (`operators/shards.py::assign_token_shards`): md5
    order key -> range-partitioned global order -> two-pass distributed
    prefix sum -> floor-div shard id. The oracle replays the whole
    assignment as ONE window over the md5-ordered corpus (the
    single-machine semantics the distributed two-pass must equal);
    partition-layout invariance is pinned separately in
    tests/test_packing.py."""
    from geoscan_fraud_spark.operators.shards import assign_token_shards

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), " ")).alias("n_tokens")
    )
    return assign_token_shards(docs, shard_tokens=_SHARD_TOKENS).select(
        "doc_id", "n_tokens", "shard"
    )


_BM25_QUERIES = [
    ("q1", "spark join window"),
    ("q2", "hash merge batch"),
    ("q3", "vector stream scan query"),
    ("q4", "customer table value"),
    ("q5", "filter sort group order"),
]


def _bm25_cte(qsrc: str, k: int = 10, docs_src: str = "documents") -> str:
    """CTE chain `bq -> ... -> lex(query_id, doc_id, score, rank)`:
    the full Lucene/Robertson BM25 (+1 idf floor, k1=1.2, b=0.75)
    replayed relationally. Every float subexpression is forced DOUBLE
    (DuckDB parses bare decimal literals as DECIMAL, whose arithmetic
    would diverge from Spark's IEEE doubles); association order copies
    `retrieval._bm25_rank` exactly; scores ROUND(6) BEFORE the rank so
    the top-k replays bit-stably (the module's published convention).
    ``docs_src`` swaps the corpus relation — how the lifecycle oracle
    scores against the post-takedown survivor set."""
    dtok = _SEARCH_TOK_SQL.format(c="text")
    qtok = _SEARCH_TOK_SQL.format(c="query")
    return f"""
    bq AS ({qsrc}),
    dtok AS (SELECT doc_id, {dtok} AS tok FROM {docs_src}),
    dd AS (SELECT doc_id, CAST(len(tok) AS INTEGER) AS dl, tok FROM dtok),
    st AS (SELECT count(*) AS n_docs,
                  COALESCE(avg(CAST(dl AS DOUBLE)), 0.0::DOUBLE) AS avgdl
           FROM dd),
    qt AS (SELECT query_id, term, count(*) AS qtf
           FROM (SELECT query_id, unnest({qtok}) AS term FROM bq)
           GROUP BY 1, 2),
    post AS (SELECT doc_id, dl, term, count(*) AS tf
             FROM (SELECT doc_id, dl, unnest(tok) AS term FROM dd)
             WHERE term IN (SELECT DISTINCT term FROM qt)
             GROUP BY 1, 2, 3),
    dfr AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
    contrib AS (
      SELECT qt.query_id, post.doc_id,
             qt.qtf
             * ln(1.0::DOUBLE
                  + (CAST(st.n_docs AS DOUBLE) - dfr.df + 0.5)
                    / (dfr.df + 0.5::DOUBLE))
             * (post.tf * (1.2::DOUBLE + 1.0))
               / (post.tf
                  + 1.2::DOUBLE * ((1.0::DOUBLE - 0.75)
                                   + 0.75::DOUBLE * post.dl / st.avgdl))
               AS c
      FROM post JOIN dfr USING (term) JOIN qt USING (term), st),
    sc AS (SELECT query_id, doc_id, ROUND(SUM(c), 6) AS score
           FROM contrib GROUP BY 1, 2),
    lex AS (
      SELECT query_id, doc_id, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id ASC) AS rank
        FROM sc) WHERE rank <= {k})
    """


def _bm25_oracle() -> str:
    vals = ",\n      ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    qsrc = f"SELECT * FROM (VALUES\n      {vals}) AS v(query_id, query)"
    return f"""
    WITH {_bm25_cte(qsrc)}
    SELECT query_id, doc_id, score, rank FROM lex
    """


def bm25_search(spark, sf_dir):
    """One-shot relational BM25 top-k (`operators/retrieval.py::bm25_topk`
    — the lexical complement of `ann_cosine_topk`): exploded corpus
    tokens semi-join the BROADCAST query vocabulary BEFORE the one
    posting shuffle (shuffled rows ~ query-term postings, never corpus
    tokens); (N, avgdl) ride the plan as a lazy one-row broadcast.

    Not registered: the identical BM25 algebra is load-bearing inside
    the hash-green `rrf_fusion` entry (its oracle replays the full tokenize/tf/df/idf/score/rank
    chain) and inside `bm25_incremental_query`'s one-shot oracle;
    python value pin in `tests/test_retrieval.py::
    test_bm25_matches_python_reference`; bench.py still times it."""
    from geoscan_fraud_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qs = spark.createDataFrame(_BM25_QUERIES, "query_id string, query string")
    return bm25_topk(docs, qs, k=10).withColumn(
        "rank", F.col("rank").cast("long")
    )


def _bm25_survivors_oracle() -> str:
    vals = ",\n      ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    qsrc = f"SELECT * FROM (VALUES\n      {vals}) AS v(query_id, query)"
    survivors = "(SELECT * FROM documents WHERE doc_id % 7 <> 3)"
    return f"""
    WITH {_bm25_cte(qsrc, docs_src=survivors)}
    SELECT query_id, doc_id, score, rank FROM lex
    """


@register("bm25_incremental_query", sql=_bm25_survivors_oracle())
def bm25_incremental_query(spark, sf_dir):
    """Serving-path BM25 over the FULL index lifecycle, including the
    MVCC machinery: build
    `text_index_write` over the even doc_ids, `text_index_append` the
    odd half, tombstone every ``doc_id % 7 == 3`` (`index_delete`),
    `text_index_compact` — which applies the tombstones physically,
    rebuilds the df log from ground truth, recomputes the stats, and
    publishes it all as a NEW generation with one atomic pointer flip —
    then `text_index_query`. The oracle is the ONE-SHOT BM25 SQL over
    the SURVIVOR corpus — hash-equality certifies end-to-end: the
    integer (n_docs, total_dl) counter merges of the append, the
    sum-mergeable df log, the takedown + compaction stats recompute,
    generation-resolved serving, and bucket pruning must together
    reproduce a from-scratch build over the post-delete corpus
    BIT-EXACTLY (scores round to 6dp pre-rank on both sides)."""
    from geoscan_fraud_spark.operators.retrieval import (
        text_index_append,
        text_index_compact,
        text_index_query,
        text_index_write,
    )
    from geoscan_fraud_spark.sources.io import index_delete

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    path = scratch_dir("bm25_inc_entry_") + "/idx"
    text_index_write(docs.filter(F.col("doc_id") % 2 == 0), path, n_buckets=32)
    text_index_append(docs.filter(F.col("doc_id") % 2 == 1), path)
    index_delete(
        spark, path, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    )
    text_index_compact(spark, path)
    return text_index_query(spark, path, _BM25_QUERIES, k=10).withColumn(
        "rank", F.col("rank").cast("long")
    )


def _rrf_oracle() -> str:
    qsrc = (
        "SELECT doc_id AS query_id, "
        "array_to_string(string_split(trim(text), ' ')[1:8], ' ') AS query "
        "FROM documents WHERE doc_id < 5"
    )
    return f"""
    WITH {_bm25_cte(qsrc)},
    c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    qv AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id < 5),
    dsc AS (
      SELECT qv.query_id, c.vec_id AS doc_id,
             ROUND(list_dot_product(qe, e)
                   / (sqrt(list_dot_product(qe, qe))
                      * sqrt(list_dot_product(e, e))), 6) AS sim
      FROM qv, c WHERE qv.query_id <> c.vec_id),
    den AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, doc_id ASC) AS rank
        FROM dsc) WHERE rank <= 10),
    u AS (
      SELECT query_id, doc_id,
             1.0::DOUBLE / (60.0::DOUBLE + rank) AS cc FROM lex
      UNION ALL
      SELECT query_id, doc_id,
             1.0::DOUBLE / (60.0::DOUBLE + rank) AS cc FROM den),
    f AS (SELECT query_id, doc_id, ROUND(SUM(cc), 6) AS rrf_score
          FROM u GROUP BY 1, 2)
    SELECT query_id, doc_id, rrf_score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf_score DESC, doc_id ASC) AS rank
      FROM f) WHERE rank <= 10
    """


@register("rrf_fusion", sql=_rrf_oracle())
def rrf_fusion(spark, sf_dir):
    """Hybrid sparse+dense retrieval fused by reciprocal-rank fusion
    (`operators/retrieval.py::rrf_fuse`, Cormack et al. 2009). The
    fixtures' doc_id and vec_id share the same id space,
    so queries 0..4 get BOTH a lexical form (the doc's first 8 tokens ->
    `bm25_topk` top-10) and a dense form (the vec's embedding ->
    `brute_force_topk` top-10), and the fused ranking is semantically a
    hybrid search over one corpus. Rank-only fusion: rrf = sum over
    lists of 1/(60+rank), ROUND(6) pre-rank; the oracle replays the
    whole pipeline — BM25, cosine top-k, and the fusion algebra."""
    from geoscan_fraud_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings")
    qtext = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.trim(F.col("text")), " "), 1, 8)
        ).alias("query"),
    )
    lex = bm25_topk(docs, qtext, k=10)
    dense = sim.brute_force_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=10
    ).withColumnRenamed("vec_id", "doc_id")
    fused = rrf_fuse(
        [
            lex.select("query_id", "doc_id", "rank"),
            dense.select("query_id", "doc_id", "rank"),
        ],
        k=10,
    )
    return fused.withColumn("rank", F.col("rank").cast("long"))


def _hybrid_lifecycle_oracle() -> str:
    """RRF of the two SURVIVOR oracles: the lexical leg
    is the one-shot BM25 CTE over the post-takedown corpus (exactly
    `bm25_incremental_query`'s oracle) and the dense leg is the probed
    IVF cosine top-k over the survivor embeddings with
    ``exclude_self=False`` (the external-query contract `hybrid_search`
    runs the dense leg with), fused by the same ROUND(6)-pre-rank RRF
    algebra as `rrf_fusion`'s oracle."""
    qsrc = (
        "SELECT CAST(doc_id AS VARCHAR) AS query_id, "
        "array_to_string(string_split(trim(text), ' ')[1:8], ' ') AS query "
        "FROM documents WHERE doc_id < 5"
    )
    survivors = "(SELECT * FROM documents WHERE doc_id % 7 <> 3)"
    ivf = _ivf_oracle_sql(
        corpus_where=" WHERE id % 7 <> 3", exclude_self=False, cte_only=True
    )
    return f"""
    WITH {_bm25_cte(qsrc, docs_src=survivors)},
    {ivf},
    den AS (SELECT CAST(query_id AS VARCHAR) AS query_id,
                   vec_id AS doc_id, rank FROM topk),
    u AS (
      SELECT query_id, doc_id,
             1.0::DOUBLE / (60.0::DOUBLE + rank) AS cc FROM lex
      UNION ALL
      SELECT query_id, doc_id,
             1.0::DOUBLE / (60.0::DOUBLE + rank) AS cc FROM den),
    f AS (SELECT query_id, doc_id, ROUND(SUM(cc), 6) AS rrf_score
          FROM u GROUP BY 1, 2)
    SELECT query_id, doc_id, rrf_score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf_score DESC, doc_id ASC) AS rank
      FROM f) WHERE rank <= 10
    """


# NOT registered — the registry is held at 50 entries; this entry's
# code, oracle thunk, tests and bench timing are all live.
def hybrid_incremental_query(spark, sf_dir):
    """Hybrid sparse+dense SERVING over both persisted index lifecycles
    under the hash gate. Build the BM25 index through its FULL
    lifecycle (write evens -> append odds -> tombstone doc_id%7==3 ->
    compact) and the residual-PQ IVF index through the same lifecycle
    over the embeddings, then answer five hybrid queries (each doc's
    leading tokens as the lexical form + its embedding as the dense
    form) with ONE `hybrid_search` call — term-bucket-pruned BM25 leg,
    probe-pruned ADC dense leg, RRF fusion. The oracle replays the RRF
    of the two survivor oracles; hash-equality certifies that the two
    independently-gated lifecycles COMPOSE: both legs' ranks and the
    fusion algebra must reproduce the batch answer bit-exactly.
    ``rerank=64`` + full-precision ``rerank_corpus`` keep the dense
    shortlist exhaustive at the gate sf, same as
    `ann_ivf_incremental_query` (compressed-tier recall is pinned
    separately)."""
    from geoscan_fraud_spark.operators.retrieval import (
        hybrid_search,
        text_index_append,
        text_index_compact,
        text_index_write,
    )
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_compact,
        ivf_index_write,
    )
    from geoscan_fraud_spark.sources.io import index_delete

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tpath = scratch_dir("hybrid_inc_bm25_") + "/idx"
    text_index_write(docs.filter(F.col("doc_id") % 2 == 0), tpath, n_buckets=32)
    text_index_append(docs.filter(F.col("doc_id") % 2 == 1), tpath)
    index_delete(
        spark, tpath, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    )
    text_index_compact(spark, tpath)

    e = _t(spark, sf_dir, "embeddings")
    cent = _ivf_centroids("/root/testdata/sf0.01")
    apath = scratch_dir("hybrid_inc_ivf_") + "/idx"
    ivf_index_write(
        e.filter(F.col("vec_id") % 2 == 0), apath, centroids=cent,
        pq_m=8, pq_k=16, pq_residual=True,
    )
    ivf_index_append(e.filter(F.col("vec_id") % 2 == 1), apath)
    index_delete(
        spark, apath, e.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    )
    ivf_index_compact(spark, apath)

    q_rows = (
        docs.filter(F.col("doc_id") < 5)
        .select(
            F.col("doc_id").cast("string"),
            F.array_join(F.slice(F.split(F.trim("text"), " "), 1, 8), " "),
        )
        .collect()
    )
    queries = [(r[0], r[1]) for r in q_rows]
    query_emb = e.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    return hybrid_search(
        spark, tpath, apath, queries, query_emb,
        k=10, nprobe=_IVF_NPROBE, rerank=64, rerank_corpus=e,
    ).withColumn("rank", F.col("rank").cast("long"))


def _html_oracle() -> str:
    """The `strip_html` rule pipeline transcribed rule-by-rule into
    DuckDB `regexp_replace(..., 'g')` over the SAME constructed markup —
    a different regex engine (RE2 vs Java util.regex) executing the same
    documented specification; the independent Python value oracle lives
    in tests/test_html.py."""
    from geoscan_fraud_spark.operators.html import _BLOCK_TAGS, _ENTITIES

    markup = (
        "'<html><head><title>skip</title><style>body{color:red}</style>"
        "</head><body><h1 class=\"t\">Doc &amp; ' || CAST(doc_id AS VARCHAR)"
        " || '</h1><!-- hidden note --><p>' || text ||"
        " '</p><script>if (1 < 2) { alert(\"x\"); }</script>"
        "<div>tail &amp;lt;keep&amp;gt;&nbsp;ok</div>"
        "<a href=\"http://example.com/x\">link text</a></body></html>'"
    )
    rules = [
        (r"(?is)<script\b[^>]*>.*?</script\s*>", ""),
        (r"(?is)<style\b[^>]*>.*?</style\s*>", ""),
        (r"(?is)<head\b[^>]*>.*?</head\s*>", ""),
        (r"(?s)<!--.*?-->", ""),
        (r"(?i)</?(?:" + _BLOCK_TAGS + r")\b[^>]*>", "\n"),
        (r"(?s)<[^>]*>", ""),
        *_ENTITIES,
        (r"[ \t\r\f]+", " "),
        (r" ?\n ?", "\n"),
        (r"\n{3,}", "\n\n"),
        (r"^\s+|\s+$", ""),
    ]

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    c = markup
    for pat, rep in rules:
        c = f"regexp_replace({c},\n      {q(pat)}, {q(rep)}, 'g')"
    return f"""
    SELECT doc_id, {c} AS text
    FROM documents
    """


@register("html_extract", sql=_html_oracle())
def html_extract(spark, sf_dir):
    """HTML -> text extraction (`operators/html.py::strip_html` — the
    CommonCrawl/C4 ingest stage): each fixture document
    is wrapped in deterministic markup exercising every rule class
    (head/style/script elements with content, a comment, block tags,
    inline tags, the `&amp;lt;` no-double-decode round trip, `&nbsp;`,
    whitespace runs) and run through the native map-only regexp chain.
    The oracle replays the markup construction and all rules in DuckDB
    (RE2) — same specification, different regex engine."""
    from geoscan_fraud_spark.operators.html import strip_html

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            "<html><head><title>skip</title><style>body{color:red}</style>"
            '</head><body><h1 class="t">Doc &amp; '
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><!-- hidden note --><p>"),
        F.col("text"),
        F.lit(
            '</p><script>if (1 < 2) { alert("x"); }</script>'
            "<div>tail &amp;lt;keep&amp;gt;&nbsp;ok</div>"
            '<a href="http://example.com/x">link text</a></body></html>'
        ),
    )
    return d.select("doc_id", strip_html(html).alias("text"))


def _pii_oracle() -> str:
    """`redact_pii`'s native regexp_replace chain transcribed into DuckDB
    `regexp_replace(..., 'g')` + `len(regexp_extract_all(...))` over the
    SAME seeded text — each pattern counted on the text state just before
    its own replacement, exactly the chained-count contract documented at
    operators/text.py::redact_pii. RE2 vs java.util.regex executing the
    same pattern set (all five PII_PATTERNS are RE2-compatible: no
    backreferences or lookaround)."""
    from geoscan_fraud_spark.operators.text import PII_PATTERNS

    seeded = (
        "text || ' contact agent' || CAST(doc_id AS VARCHAR)"
        " || '@mail.example.org from 10.0.'"
        " || CAST(doc_id % 200 AS VARCHAR) || '.77"
        " card 4111 1111 1111 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' ssn 078-05-1120 end'"
    )

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    red = f"({seeded})"
    counts = []
    for pat, repl in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({red}, {q(pat)}))")
        red = f"regexp_replace({red},\n      {q(pat)}, {q(repl)}, 'g')"
    return f"""
    SELECT doc_id, {red} AS redacted,
           CAST({' + '.join(counts)} AS BIGINT) AS n_redactions
    FROM documents
    """


@register("pii_redact", sql=_pii_oracle())
def pii_redact(spark, sf_dir):
    """PII redaction (`operators/text.py::redact_pii` — the pre-training scrub stage every public corpus pipeline runs, cf.
    C4/Dolma): each fixture document gets a deterministic doc_id-derived
    PII payload (email, 16-digit card, NANP phone, dotted-quad IP, SSN —
    one span per pattern class) appended, then flows through the native
    map-only regexp_replace chain with before-replacement span counting.
    The oracle replays the seeding and the whole chain in DuckDB (RE2) —
    same specification, different regex engine."""
    from geoscan_fraud_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact agent"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.org from 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".77 card 4111 1111 1111 "),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" call 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ssn 078-05-1120 end"),
        ).alias("text"),
    )
    return redact_pii(seeded)


# ---------------------------------------------------------------------------
# streaming serving pipeline under the hash gate (§2.9)
# ---------------------------------------------------------------------------

_PSQ_MIN_TOK = 20


def _prepared_stream_oracle(
    n_hashes: int = 48,
    bands: int = 12,
    threshold: float = 0.5,
    min_tok: int = _PSQ_MIN_TOK,
    k: int = 10,
) -> str:
    """The full two-micro-batch `prepared_serving_sink` cycle as one
    DuckDB statement: per-batch token gate, batch A deduped within
    itself against an empty store, batch B (odds + mutated evens)
    deduped against A's SURVIVORS and within itself (signature-estimated
    Jaccard, recursive-CTE components, the `_component_drop` rule), then
    one-shot BM25 over the union of survivors — the corpus the streamed
    text index must serve BIT-EXACTLY through its two appends."""
    r = n_hashes // bands
    a_mul, b_mul, c_xor = dd.minhash_mix_params(n_hashes)
    lo_mask = (1 << 30) - 1
    sig_aggs = ",\n             ".join(
        f"min(({a_mul[i]} * (xor(h, {c_xor[i]}::BIGINT) & {lo_mask})"
        f" + {b_mul[i]} * (xor(h, {c_xor[i]}::BIGINT) >> 30)"
        f" + {i}) % {dd.MINHASH_MOD}) AS mh_{i}"
        for i in range(n_hashes)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bh FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"mh_{b * r + j}" for j in range(r)),
        )
        for b in range(bands)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(n_hashes)
    )
    vals = ",\n      ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    qsrc = f"SELECT * FROM (VALUES\n      {vals}) AS v(query_id, query)"
    gate = f"len(string_split(trim(text), ' ')) >= {min_tok}"
    return f"""
    WITH RECURSIVE
    ga AS MATERIALIZED (SELECT doc_id, text FROM documents
           WHERE doc_id % 2 = 0 AND {gate}),
    braw AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(
               [tok[i] FOR i IN range(1, len(tok) + 1) IF (i - 1) % 13 != 5], ' ')
               AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM documents
            WHERE doc_id % 2 = 0)),
    gb AS MATERIALIZED (SELECT doc_id, text FROM braw WHERE {gate}),
    alldocs AS MATERIALIZED (SELECT * FROM ga UNION ALL SELECT * FROM gb),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(tok) >= 3
               THEN [array_to_string(tok[i+1:i+3], ' ') FOR i IN range(0, len(tok) - 2)]
               ELSE [array_to_string(tok, ' ')] END) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM alldocs)),
    hs AS (SELECT doc_id,
                  ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS h
           FROM sh),
    sig AS MATERIALIZED (
      SELECT doc_id,
             {sig_aggs}
      FROM hs GROUP BY doc_id),
    banded AS MATERIALIZED (
      {band_selects}),
    ab AS (SELECT banded.* FROM banded JOIN ga USING (doc_id)),
    acand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM ab x JOIN ab y ON x.band = y.band AND x.bh = y.bh
                                 AND x.doc_id < y.doc_id),
    apairs AS (SELECT c.id_a, c.id_b FROM acand c
               JOIN sig a ON a.doc_id = c.id_a
               JOIN sig b ON b.doc_id = c.id_b
               WHERE ({eq_sum}) / {n_hashes}.0 >= {threshold}),
    aedges AS (SELECT id_a AS ea, id_b AS eb FROM apairs
               UNION ALL SELECT id_b, id_a FROM apairs),
    areach(id, root) AS (
      SELECT ea, ea FROM aedges GROUP BY ea
      UNION
      SELECT e.eb, areach.root FROM areach JOIN aedges e ON e.ea = areach.id),
    acomp AS (SELECT id, min(root) AS component FROM areach GROUP BY id),
    kepta AS MATERIALIZED (SELECT doc_id FROM ga
              WHERE doc_id NOT IN (SELECT id FROM acomp WHERE id <> component)),
    bb AS (SELECT banded.* FROM banded JOIN gb USING (doc_id)),
    ib AS (SELECT banded.* FROM banded JOIN kepta USING (doc_id)),
    cand_ix AS (SELECT DISTINCT nb.doc_id AS nid, ix.doc_id AS oid
                FROM bb nb JOIN ib ix ON nb.band = ix.band AND nb.bh = ix.bh),
    est_ix AS (SELECT DISTINCT c.nid AS id FROM cand_ix c
               JOIN sig a ON a.doc_id = c.nid
               JOIN sig b ON b.doc_id = c.oid
               WHERE ({eq_sum}) / {n_hashes}.0 >= {threshold}),
    bcand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM bb x JOIN bb y ON x.band = y.band AND x.bh = y.bh
                                  AND x.doc_id < y.doc_id),
    bpairs AS (SELECT c.id_a, c.id_b FROM bcand c
               JOIN sig a ON a.doc_id = c.id_a
               JOIN sig b ON b.doc_id = c.id_b
               WHERE ({eq_sum}) / {n_hashes}.0 >= {threshold}),
    bedges AS (SELECT id_a AS ea, id_b AS eb FROM bpairs
               UNION ALL SELECT id_b, id_a FROM bpairs),
    breach(id, root) AS (
      SELECT ea, ea FROM bedges GROUP BY ea
      UNION
      SELECT e.eb, breach.root FROM breach JOIN bedges e ON e.ea = breach.id),
    bcomp AS (SELECT id, min(root) AS component FROM breach GROUP BY id),
    comp_matched AS (SELECT DISTINCT component FROM bcomp
                     WHERE id IN (SELECT id FROM est_ix)),
    bdrop AS (
      SELECT id FROM est_ix
      UNION
      SELECT id FROM bcomp
      WHERE component IN (SELECT component FROM comp_matched)
      UNION
      SELECT id FROM bcomp WHERE id <> component),
    keptb AS (SELECT doc_id FROM gb
              WHERE doc_id NOT IN (SELECT id FROM bdrop)),
    survivors AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM alldocs d JOIN kepta USING (doc_id)
      UNION ALL
      SELECT d.doc_id, d.text FROM alldocs d JOIN keptb USING (doc_id)),
    {_bm25_cte(qsrc, k=k, docs_src="survivors")}
    SELECT query_id, doc_id, score, rank FROM lex
    """


# per-process cache of the entry's two deterministic SOURCE parquet
# files, keyed by sf_dir (see the note inside prepared_stream_query)
_psq_src_cache: dict[str, str] = {}


@register("prepared_stream_query", sql=_prepared_stream_oracle)
def prepared_stream_query(spark, sf_dir):
    """Streaming serving pipeline UNDER the hash gate (the first §2.9
    entry): a real two-cycle availableNow
    `prepared_serving_sink` run — file-source micro-batches through the
    quality gate, the store-backed MinHash dedup (md5 family, the
    oracle-portable configuration), the corpus append, and TWO
    `text_index_append`s into a bootstrap-empty BM25 index — then the
    entry SERVES from that streamed index. Batch 0 is the even docs;
    batch 1 is the odd docs plus mutated copies of the evens, so the
    cross-batch store suppression does real work. The oracle replays
    gate + both dedup stages + one-shot BM25 over the survivor corpus in
    DuckDB; hash-equality certifies the streaming machinery end-to-end:
    file-source batch splitting, checkpointed replay guards, the
    strictly-earlier-batch store read, the integer stats merges of the
    two appends, and bucket-pruned serving must together reproduce the
    batch-SQL answer BIT-EXACTLY."""
    from geoscan_fraud_spark.operators.retrieval import (
        text_index_query,
        text_index_write,
    )
    from geoscan_fraud_spark.streaming.scoring import prepared_serving_sink

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    words = F.split(F.col("text"), r"\s+")
    mutated = evens.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.filter(words, lambda w, i: (i % 13) != 5)
        ).alias("text"),
    )
    batch_b = odds.unionByName(mutated)

    # The two SOURCE parquet files are deterministic functions of the
    # fixture — write them once per process per sf_dir and hardlink
    # them into each call's fresh src dir (otherwise the bench re-times
    # two coalesce(1) fixture writes per pass; real
    # deployments don't re-create their input stream per query). The
    # stream/store/index/checkpoint dirs stay per-call: the whole
    # ingest lifecycle is still what's measured.
    if sf_dir not in _psq_src_cache:
        cache_dir = scratch_dir("psq_src_cache_")
        evens.coalesce(1).write.mode("overwrite").parquet(f"{cache_dir}/f=a")
        batch_b.coalesce(1).write.mode("overwrite").parquet(f"{cache_dir}/f=b")
        _psq_src_cache[sf_dir] = cache_dir

    def _stage(src_dir: str, name: str) -> None:
        import os

        s, d = f"{_psq_src_cache[sf_dir]}/{name}", f"{src_dir}/{name}"
        os.makedirs(d, exist_ok=True)
        for f in os.listdir(s):
            if f.endswith(".parquet") or f == "_SUCCESS":
                os.link(f"{s}/{f}", f"{d}/{f}")

    work = scratch_dir("psq_entry_")
    src = f"{work}/src"
    tidx = f"{work}/tidx"
    # bootstrap-empty serving index: the stream's appends are its only
    # content (the empty-build shape text_index_write supports)
    text_index_write(docs.limit(0), tidx, n_buckets=32)
    sink = prepared_serving_sink(
        f"{work}/store",
        f"{work}/out",
        text_index_path=tidx,
        quality_rules={"min_tokens": F.col("n_tokens") >= _PSQ_MIN_TOK},
        num_hashes=48,
        bands=12,
        threshold=0.5,
        sig_hash="md5",
    )

    def cycle():
        q = (
            spark.readStream.schema(docs.schema)
            .parquet(src + "/f=*")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination(timeout) returns False when the
        # wait times out with the query still running — proceeding then
        # would serve a partially-ingested index and hash-mismatch
        # nondeterministically. Fail loudly instead.
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "prepared_stream_query: availableNow ingest cycle did not "
                "finish within 600s — refusing to query a partially-"
                "ingested serving index"
            )

    # two cycles over the same checkpoint = deterministic batch split:
    # cycle 1 sees only file A (batch 0), cycle 2 only the new file B
    # (batch 1) — the file source's seen-set lives in the checkpoint
    _stage(src, "f=a")
    cycle()
    _stage(src, "f=b")
    cycle()
    return text_index_query(spark, tidx, _BM25_QUERIES, k=10).withColumn(
        "rank", F.col("rank").cast("long")
    )


# ---------------------------------------------------------------------------
# §2.9 second streaming entry — EVENT-TIME semantics under the hash gate
# ---------------------------------------------------------------------------

#: window / slide / watermark in whole seconds (the stream floors event
#: times to seconds, so every watermark is an exact integer both engines
#: can reproduce bit-for-bit).
_WTW_WIN, _WTW_SLIDE, _WTW_WM = 3600, 1800, 1800
#: arrival-cycle split: 2024-01-20 00:00:00 UTC (events span Jan 1-30).
_WTW_SPLIT = 1705708800
#: ~14% of pre-split events arrive LATE, in cycle 2 (deterministic by id).
_WTW_LATE_MOD, _WTW_LATE_RES = 7, 3
_wtw_src_cache: dict[str, str] = {}
_WTW_WM_CACHE: dict[str, tuple[int, int]] = {}


def _wtw_epoch_secs(df):
    """Timezone-FREE whole-second epoch of the fixture's event time,
    handling both flavors `load_fixture` can surface: TIMESTAMP_NTZ
    (micros parquet) via NTZ-minus-NTZ interval arithmetic — wall-clock
    subtraction never consults the session zone, unlike the NTZ->
    TIMESTAMP cast `ensure_event_time` documents as zone-sensitive — and
    instant TIMESTAMP (the nanos->timestamp_micros path) via a plain
    epoch cast. Both truncate micros toward zero = FLOOR for CE dates,
    matching the oracle's CAST(FLOOR(epoch(ts)) AS BIGINT) bit-for-bit
    (parity pinned in test_round12_fixes.py)."""
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        return F.expr("CAST(ts - TIMESTAMP_NTZ '1970-01-01 00:00:00' AS BIGINT)")
    return F.col("ts").cast("long")


def _wtw_staged(spark, sf_dir: str) -> str:
    """Write the two arrival-cycle source files once per process per
    sf_dir (deterministic functions of the fixture — same caching
    rationale as `_psq_src_cache`)."""
    if sf_dir not in _wtw_src_cache:
        ev = _events_coords(spark, sf_dir, "ts")
        t = _wtw_epoch_secs(ev)
        pts = ev.select(
            F.timestamp_seconds(t).alias("ts"),
            "user_id",
            "latitude",
            "longitude",
            (
                (t >= _WTW_SPLIT)
                | (F.col("event_id") % _WTW_LATE_MOD == _WTW_LATE_RES)
            ).alias("cyc2"),
        )
        cache = scratch_dir("wtw_src_cache_")
        pts.filter(~F.col("cyc2")).drop("cyc2").coalesce(1).write.parquet(
            f"{cache}/f=a"
        )
        pts.filter(F.col("cyc2")).drop("cyc2").coalesce(1).write.parquet(
            f"{cache}/f=b"
        )
        _wtw_src_cache[sf_dir] = cache
    return _wtw_src_cache[sf_dir]


def _wtw_watermarks(sf_dir: str = "/root/testdata/sf0.01") -> tuple[int, int]:
    """The two cycle-end watermarks, derived from the fixture exactly as
    the stream derives them (pinned by tests/test_watermark_windows.py:
    each availableNow cycle's closing no-data batch advances the
    watermark to max-event-time-seen minus the delay). The correctness
    gate runs at sf=0.01 (driver contract), so the oracle's constants
    come from that fixture — the Spark side needs no constants at all:
    its watermark is intrinsic to whatever sf it streams."""
    if sf_dir not in _WTW_WM_CACHE:
        import duckdb

        con = duckdb.connect()
        t1_max, t2_max = con.execute(
            f"""
            SELECT max(CASE WHEN NOT cyc2 THEN t END),
                   max(CASE WHEN cyc2 THEN t END)
            FROM (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
                         (CAST(FLOOR(epoch(ts)) AS BIGINT) >= {_WTW_SPLIT}
                          OR event_id % {_WTW_LATE_MOD} = {_WTW_LATE_RES})
                           AS cyc2
                  FROM '{sf_dir}/events.parquet')
            """
        ).fetchone()
        con.close()
        if t1_max is None or t2_max is None:
            raise ValueError(
                f"watermarked_tile_windows: fixture {sf_dir} has an empty "
                "arrival cycle — cannot derive deterministic watermarks"
            )
        w1 = int(t1_max) - _WTW_WM
        w2 = max(w1, int(t2_max) - _WTW_WM)
        _WTW_WM_CACHE[sf_dir] = (w1, w2)
    return _WTW_WM_CACHE[sf_dir]


def _wtw_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Batch-SQL replay of append-mode emission. The accepted (row,
    window) pairs are cycle-1 rows unconditionally (the watermark is
    still at epoch 0 when they arrive) plus cycle-2 pairs whose window
    END is strictly newer than the cycle-1 watermark W1 (Spark's
    late-data filter drops pairs with window.end <= watermark — the
    complement of its `end <= wm` close-and-emit rule, both pinned in
    test_watermark_windows.py); emitted windows are those CLOSED by the
    final watermark W2 (window_end <= W2). W1/W2 are derived IN the SQL
    (max event time per arrival cycle minus the delay — the exact rule
    the stream's closing no-data batch applies, pinned in
    test_watermark_windows.py), so one oracle string is correct at
    EVERY sf: the registered thunk, the sf0.001 parity suite, and the
    driver's sf0.01 gate all replay the same text. `sf_dir` is kept for
    signature compatibility only."""
    del sf_dir
    scale = 65.907807 / 111320.0
    n_slides = _WTW_WIN // _WTW_SLIDE
    return f"""
    WITH pts AS (
      SELECT event_id, user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
             40.5 + (value - FLOOR(value / 200.0) * 200.0) / 1000.0 AS latitude,
             -74.3 + (value - FLOOR(value / 157.0) * 157.0) / 800.0 AS longitude
      FROM events
    ),
    cells AS (
      SELECT user_id, t,
             printf('%02X%07X%07X', 10,
                    CAST(FLOOR((latitude + 90.0) / {scale!r}) AS BIGINT),
                    CAST(FLOOR((longitude + 180.0) / {scale!r}) AS BIGINT)) AS h3,
             (t >= {_WTW_SPLIT} OR event_id % {_WTW_LATE_MOD} = {_WTW_LATE_RES})
               AS cyc2
      FROM pts
    ),
    wm AS (
      SELECT max(CASE WHEN NOT cyc2 THEN t END) - {_WTW_WM} AS w1,
             greatest(max(CASE WHEN NOT cyc2 THEN t END) - {_WTW_WM},
                      max(CASE WHEN cyc2 THEN t END) - {_WTW_WM}) AS w2
      FROM cells
    ),
    pairs AS (
      SELECT user_id, h3, cyc2,
             (t // {_WTW_SLIDE}) * {_WTW_SLIDE} - i * {_WTW_SLIDE} AS w_start
      FROM cells CROSS JOIN range(0, {n_slides}) r(i)
    ),
    agg AS (
      SELECT w_start AS window_start,
             w_start + {_WTW_WIN} AS window_end,
             user_id, h3, count(*) AS visits
      FROM pairs
      WHERE (NOT cyc2) OR w_start + {_WTW_WIN} > (SELECT w1 FROM wm)
      GROUP BY 1, 2, 3, 4
    )
    SELECT window_start, window_end, user_id, h3, visits
    FROM agg WHERE window_end <= (SELECT w2 FROM wm)
    """


# NOT registered — the registry is held at 50 entries; this entry's
# code, oracle thunk, tests and bench timing are all live.
def watermarked_tile_windows(spark, sf_dir):
    """§2.9 EVENT-TIME semantics under the hash gate (design note
    COVERAGE.md §2.9): a real two-cycle availableNow run of
    `sliding_tile_counts` (window 1h, slide 30min, watermark 30min) in
    APPEND mode into a parquet sink. Cycle 1 streams the in-order
    pre-split events; cycle 2 streams the post-split events PLUS a
    planted ~14% of pre-split rows arriving LATE — rows whose windows
    all closed under the cycle-1 watermark must be dropped (a closed
    window is never resurrected), while late rows near the split land in
    still-open windows. Hash-equality against the batch-SQL replay
    certifies watermark advancement, the late-row accept/drop boundary,
    and append-mode closed-window emission end-to-end. Streaming analog
    of the reference's TTL'd behavioral window (`02:281-287`)."""
    import os
    from geoscan_fraud_spark.streaming.scoring import sliding_tile_counts

    cache = _wtw_staged(spark, sf_dir)
    work = scratch_dir("wtw_entry_")
    src, out, ckpt = f"{work}/src", f"{work}/out", f"{work}/ckpt"
    os.makedirs(src)
    schema = "ts timestamp, user_id bigint, latitude double, longitude double"

    def stage(name: str) -> None:
        s, d = f"{cache}/{name}", f"{src}/{name}"
        os.makedirs(d, exist_ok=True)
        for f in os.listdir(s):
            if f.endswith(".parquet") or f == "_SUCCESS":
                os.link(f"{s}/{f}", f"{d}/{f}")

    def cycle() -> None:
        agg = sliding_tile_counts(
            spark.readStream.schema(schema).parquet(src + "/f=*"),
            ts_col="ts",
            user_col="user_id",
            window=f"{_WTW_WIN} seconds",
            slide=f"{_WTW_SLIDE} seconds",
            watermark=f"{_WTW_WM} seconds",
        ).select(
            F.col("window.start").cast("long").alias("window_start"),
            F.col("window.end").cast("long").alias("window_end"),
            "user_id",
            "h3",
            F.col("visits").cast("long").alias("visits"),
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "watermarked_tile_windows: availableNow cycle did not "
                "finish within 600s — refusing to read a partial sink"
            )

    stage("f=a")
    cycle()
    stage("f=b")
    cycle()
    return spark.read.parquet(out)


def _snt_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Batch-SQL replay of the custom stateful operator: the emitted set
    is one row per distinct (user, tile), stamped with the earliest
    event time WITHIN THE FIRST ARRIVAL CYCLE that contains the pair —
    state carried across cycles suppresses every later sighting, and a
    late cycle-2 row never outranks a cycle-1 sighting even when its
    event time is earlier (arrival order beats event order in a
    first-occurrence state machine; there is NO watermark drop here, so
    pairs seen ONLY via late rows still emit). `sf_dir` only matters for
    symmetry with `_wtw_oracle` — this oracle needs no data-derived
    constants at all."""
    scale = 65.907807 / 111320.0
    return f"""
    WITH pts AS (
      SELECT event_id, user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
             40.5 + (value - FLOOR(value / 200.0) * 200.0) / 1000.0 AS latitude,
             -74.3 + (value - FLOOR(value / 157.0) * 157.0) / 800.0 AS longitude
      FROM events
    ),
    cells AS (
      SELECT CAST(user_id AS VARCHAR) AS u, t,
             printf('%02X%07X%07X', 10,
                    CAST(FLOOR((latitude + 90.0) / {scale!r}) AS BIGINT),
                    CAST(FLOOR((longitude + 180.0) / {scale!r}) AS BIGINT)) AS h3,
             (t >= {_WTW_SPLIT} OR event_id % {_WTW_LATE_MOD} = {_WTW_LATE_RES})
               AS cyc2
      FROM pts
    )
    SELECT u AS "user", h3,
           COALESCE(min(CASE WHEN NOT cyc2 THEN t END),
                    min(CASE WHEN cyc2 THEN t END)) AS t
    FROM cells GROUP BY u, h3
    """


# NOT registered — the registry is held at 50 entries; this entry's
# code, oracle thunk, tests and bench timing are all live.
def stateful_novel_tiles(spark, sf_dir):
    """§2.9 CUSTOM STATEFUL operator under the hash gate (the last
    streaming face — COVERAGE.md §2.9 design note): a
    real two-cycle availableNow run of `novel_tile_stream`
    (`applyInPandasWithState`, per-user tile-set state) over the SAME
    staged arrival-cycle fixture as `watermarked_tile_windows`. The run
    uses `ttl_ms=None` (NoTimeout): measured on Spark 4.1, a
    ProcessingTimeTimeout stateful operator makes availableNow loop
    no-data micro-batches forever (shouldRunAnotherBatch is always
    true), so the production 7-day TTL is exercised by its own pytest
    (`test_stateful_streaming.py::test_novel_tile_ttl_expires_state`)
    rather than inside the bounded gate run.
    Hash-equality against the batch-SQL replay certifies the stateful
    machinery end-to-end: the grouping shuffle into state, checkpointed
    state carried ACROSS cycles (a cycle-2 sighting of a cycle-1 tile
    must be suppressed by restored state, not recomputation), in-batch
    event-time ordering (the emitted stamp is the batch-min event time),
    and the arrival-beats-event-time rule for late rows. Streaming
    analog of the reference's online behavioral store (`02:281-314`),
    learned online instead of pre-trained."""
    import os
    from geoscan_fraud_spark.streaming.stateful import novel_tile_stream

    cache = _wtw_staged(spark, sf_dir)
    work = scratch_dir("snt_entry_")
    src, out, ckpt = f"{work}/src", f"{work}/out", f"{work}/ckpt"
    os.makedirs(src)
    schema = "ts timestamp, user_id bigint, latitude double, longitude double"

    def stage(name: str) -> None:
        s, d = f"{cache}/{name}", f"{src}/{name}"
        os.makedirs(d, exist_ok=True)
        for f in os.listdir(s):
            if f.endswith(".parquet") or f == "_SUCCESS":
                os.link(f"{s}/{f}", f"{d}/{f}")

    def cycle() -> None:
        novel = novel_tile_stream(
            spark.readStream.schema(schema).parquet(src + "/f=*"),
            res=10,
            user_col="user_id",
            ts_col="ts",
            ttl_ms=None,
        )
        q = (
            novel.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "stateful_novel_tiles: availableNow cycle did not finish "
                "within 600s — refusing to read a partial sink"
            )

    stage("f=a")
    cycle()
    stage("f=b")
    cycle()
    return spark.read.parquet(out).select(
        "user", F.col("ts").cast("long").alias("t"), "h3"
    )
