"""Train/test decontamination — remove corpus documents that overlap a
held-out benchmark set by shared word n-grams (the standard LLM
training-data hygiene step; n-gram collision against eval sets is the
canonical published recipe).

100 TB shape: the benchmark side is SMALL (eval suites are thousands of
documents, not billions) — its distinct gram-hash set is broadcast, so
the corpus-side probe is a map-only LEFT SEMI against a broadcast hash
relation: no shuffle touches the 100 TB side until hits are aggregated,
and that aggregation carries only (doc_id, gram_hash) pairs that actually
matched — in a clean corpus, almost nothing. Grams travel as xxhash64
longs, never strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.dedup import word_shingles


def _gram_hashes(df: DataFrame, text_col: str, n: int):
    """Distinct word-n-gram xxhash64 longs per row, as array<bigint>."""
    return F.transform(word_shingles(F.col(text_col), n), lambda g: F.xxhash64(g))


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_hits): distinct benchmark n-grams each corpus doc shares.

    Docs with zero hits are absent — at scale the result is tiny (hits
    are the exception). The benchmark grams relation is deduped then
    broadcast; the probe is a broadcast LEFT SEMI per exploded gram.
    """
    bench_grams = (
        benchmark.select(F.explode(_gram_hashes(benchmark, text_col, n)).alias("gram"))
        .distinct()
    )
    # shingle + xxhash64 per gram position is the
    # CPU-heavy map side, and the probe + partial count run in the same
    # scan stage — on a small/unsplittable corpus that whole stage sat
    # on the source's 1-2 tasks. Same size-estimate-gated fan-out as the
    # minhash signature pass (an identically-shaped operator); no-op at
    # production scale.
    from geoscan_fraud_spark.operators.dedup import _fan_out_small

    corpus_grams = _fan_out_small(corpus).select(
        F.col(id_col), F.explode(_gram_hashes(corpus, text_col, n)).alias("gram")
    )
    hits = corpus_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
    return hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus minus documents sharing >= ``min_hits`` distinct word
    n-grams with the benchmark — via anti-join on `contamination_hits`,
    so clean documents stream through untouched (no row of the clean
    corpus is ever shuffled; the anti-join's build side is the tiny hit
    list)."""
    flagged = (
        contamination_hits(corpus, benchmark, n, text_col, id_col)
        .filter(F.col("n_hits") >= min_hits)
        .select(id_col)
    )
    return corpus.join(F.broadcast(flagged), id_col, "left_anti")


# ---------------------------------------------------------------------------
# Semantic (embedding-space) decontamination
# ---------------------------------------------------------------------------


def semantic_contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    emb_col: str = "emb",
    id_col: str = "doc_id",
    bench_emb_col: str | None = None,
) -> DataFrame:
    """(id, max_sim): corpus rows whose embedding is cosine-similar
    (``>= threshold``) to ANY benchmark embedding — the paraphrase-level
    complement of the n-gram probe above (an eval question rewritten in
    different words shares no 8-gram but still lands next to the original
    in embedding space).

    100 TB shape, same contract as `contamination_hits`: the benchmark
    side is SMALL (eval suites), so its vectors fold into ONE row — an
    array of (vector, norm) structs — that broadcasts to every corpus
    partition via a broadcast nested-loop join of a single row. The probe
    is then entirely map-side: each corpus row computes its norm once and
    a max over benchmark cosines; the corpus never shuffles, and only the
    (rare) hits survive the filter. A thousand 64-dim benchmark vectors
    is ~0.5 MB of broadcast state; for benchmark sets large enough that
    the fold itself is a problem (millions of vectors), use the persisted
    IVF index (`operators/similarity.ivf_index_query`) instead — this
    operator is deliberately the exact, small-benchmark path.

    Zero-norm vectors have no direction: they are dropped from the
    benchmark fold and never flagged on the corpus side (guarded
    explicitly — Spark orders NaN above every number, so an unguarded
    0/0 would otherwise flag every zero-norm doc as contaminated).

    Cosine algebra matches `dedup_embedding_lsh` (double-cast fold dot,
    ``dot / (norm_a * norm_b)``) so results replay exactly in DuckDB via
    ``list_dot_product``.
    """
    from geoscan_fraud_spark.operators.dedup import norm_expr

    for reserved in ("__ce", "__cn", "__bench"):
        if reserved in corpus.columns:
            raise ValueError(
                f"corpus already has a {reserved!r} column — it is "
                "reserved by semantic_contamination_hits; rename it"
            )
    bcol = bench_emb_col or emb_col
    bench_row = (
        benchmark.select(
            F.struct(
                F.transform(F.col(bcol), lambda x: x.cast("double")).alias("e"),
                norm_expr(F.col(bcol)).alias("n"),
            ).alias("s")
        )
        .filter(F.col("s.n") > 0)
        .agg(F.collect_list("s").alias("__bench"))
    )
    # cast the corpus embedding to double ONCE PER ROW (dot_expr's own
    # prescription: per-row work stays per-row, never per-pair — casting
    # inside the sims lambda would re-run the O(d) transform once per
    # benchmark vector)
    probed = (
        corpus.withColumn(
            "__ce", F.transform(F.col(emb_col), lambda x: x.cast("double"))
        )
        .withColumn("__cn", norm_expr(F.col("__ce")))
        .crossJoin(F.broadcast(bench_row))
    )
    # both sides pre-cast -> the fold is dot_expr's exact algebra
    # (left-to-right accumulation from 0.0), minus the redundant casts
    sims = F.transform(
        F.col("__bench"),
        lambda s: F.aggregate(
            F.zip_with(F.col("__ce"), s["e"], lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("__cn") * s["n"]),
    )
    return (
        probed.filter(F.col("__cn") > 0)
        .select(F.col(id_col), F.array_max(sims).alias("max_sim"))
        .filter(F.col("max_sim") >= threshold)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    emb_col: str = "emb",
    id_col: str = "doc_id",
    bench_emb_col: str | None = None,
) -> DataFrame:
    """Corpus minus rows within ``threshold`` cosine of any benchmark
    embedding — anti-join on `semantic_contamination_hits`, so clean
    documents stream through untouched (the anti-join's build side is
    the tiny hit list, broadcast)."""
    flagged = semantic_contamination_hits(
        corpus, benchmark, threshold, emb_col, id_col, bench_emb_col
    ).select(id_col)
    return corpus.join(F.broadcast(flagged), id_col, "left_anti")
