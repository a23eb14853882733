"""End-to-end serving-index lifecycle: backfill build -> streaming
ingest (both modalities) -> immediate searchability -> tombstone delete
-> compaction -> bit-exact parity with never-streamed reference indexes.

This is the integration seam the per-operator tests don't cover: the
same corpus flowing through `text_index_ingest_sink` (BM25) and
`ann_index_ingest_sink` (IVF) in parallel, then through the delete +
compact maintenance cycle, must end up indistinguishable from indexes
built in one shot over the final document set.
"""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.retrieval import (
    text_index_compact,
    text_index_query,
    text_index_write,
)
from geoscan_fraud_spark.operators.similarity import (
    ivf_index_compact,
    ivf_index_query,
    ivf_index_stats,
    ivf_index_write,
    lloyd_centroids,
)
from geoscan_fraud_spark.sources.io import index_delete
from geoscan_fraud_spark.streaming.scoring import (
    ann_index_ingest_sink,
    text_index_ingest_sink,
)

DIM = 8


def _corpus(n, seed, id0=0):
    rng = np.random.RandomState(seed)
    words = ["alpha", "beta", "gamma", "delta", "spark", "fox", "data"]
    rows = []
    for i in range(n):
        text = " ".join(rng.choice(words, size=rng.randint(3, 9)))
        vec = [float(x) for x in rng.randn(DIM)]
        rows.append((id0 + i, text, vec))
    return rows


SCHEMA = "doc_id long, text string, embedding array<double>"


@pytest.fixture(scope="module")
def seed_rows():
    return _corpus(40, seed=1)


@pytest.fixture(scope="module")
def batch_rows():
    return [_corpus(10, seed=2, id0=100), _corpus(10, seed=3, id0=200)]


def test_hybrid_search_over_persisted_stores(
    spark, tmp_path_factory, seed_rows
):
    """hybrid_search == rrf_fuse(text_index_query, ivf_index_query)
    computed by hand over the same stores, and both legs contribute."""
    from geoscan_fraud_spark.operators.retrieval import (
        hybrid_search,
        rrf_fuse,
        text_index_query,
    )

    tmp = tmp_path_factory.mktemp("hybrid")
    df = spark.createDataFrame(seed_rows, SCHEMA)
    cent = lloyd_centroids(
        np.array([r[2] for r in seed_rows], dtype=np.float64), 4
    )
    text_path, ann_path = str(tmp / "bm25"), str(tmp / "ivf")
    text_index_write(df, text_path, n_buckets=8)
    ivf_index_write(
        df.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann_path,
        centroids=cent,
    )

    qid, qtext, qvec = seed_rows[7]
    queries = [(str(qid), qtext)]
    query_emb = spark.createDataFrame(
        [(qid, qvec)], "query_id long, embedding array<double>"
    )

    fused = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["rrf_score"])
        for r in hybrid_search(
            spark, text_path, ann_path, queries, query_emb, k=5
        ).collect()
    }

    sparse = text_index_query(spark, text_path, queries, k=5).select(
        F.col("query_id").cast("string").alias("query_id"), "doc_id", "rank"
    )
    dense = ivf_index_query(
        query_emb.withColumnRenamed("query_id", "vec_id"),
        ann_path,
        k=5,
        nprobe=4,
        # hybrid treats query ids as EXTERNAL (r09): no corpus-self
        # exclusion, so the hand computation must match
        exclude_self=False,
    ).select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        "rank",
    )
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["rrf_score"])
        for r in rrf_fuse([sparse, dense], k=5).collect()
    }
    assert fused == want and len(fused) == 5

    # both modalities really contribute: the fused set overlaps each leg
    fused_docs = {d for d, _ in fused.values()}
    assert fused_docs & {r["doc_id"] for r in sparse.collect()}
    assert fused_docs & {r["doc_id"] for r in dense.collect()}


def test_full_lifecycle_parity(spark, tmp_path_factory, seed_rows, batch_rows):
    tmp = tmp_path_factory.mktemp("lifecycle")
    seed_df = spark.createDataFrame(seed_rows, SCHEMA)
    cent = lloyd_centroids(
        np.array([r[2] for r in seed_rows], dtype=np.float64), 4
    )

    text_path = str(tmp / "bm25")
    ann_path = str(tmp / "ivf")
    text_index_write(seed_df, text_path, n_buckets=8)
    ivf_index_write(
        seed_df.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann_path,
        centroids=cent,
    )

    text_sink = text_index_ingest_sink(text_path)
    ann_sink = ann_index_ingest_sink(ann_path, id_col="vec_id")
    for i, rows in enumerate(batch_rows):
        b = spark.createDataFrame(rows, SCHEMA)
        text_sink(b, i)
        ann_sink(b.select(F.col("doc_id").alias("vec_id"), "embedding"), i)

    # streamed docs are immediately searchable in BOTH modalities
    streamed_id, streamed_text, streamed_vec = batch_rows[1][0]
    t_hits = text_index_query(
        spark, text_path, [("q", streamed_text)], k=5
    ).collect()
    assert streamed_id in {r["doc_id"] for r in t_hits}
    probe = spark.createDataFrame([(streamed_id, streamed_vec)],
                                  "vec_id long, embedding array<double>")
    assert ivf_index_query(probe, ann_path, k=5, nprobe=4).count() == 5

    # takedown: delete one seed doc and one streamed doc from both
    dead = [seed_rows[0][0], batch_rows[0][0][0]]
    index_delete(spark, text_path, dead)
    index_delete(spark, ann_path, dead)

    queries = [("q1", "spark fox"), ("q2", "alpha data gamma")]
    mid = text_index_query(spark, text_path, queries, k=10).collect()
    assert not ({r["doc_id"] for r in mid} & set(dead))

    text_index_compact(spark, text_path)
    ivf_index_compact(spark, ann_path)

    # reference: one-shot indexes over exactly the surviving documents
    final_rows = [
        r
        for r in seed_rows + batch_rows[0] + batch_rows[1]
        if r[0] not in dead
    ]
    final_df = spark.createDataFrame(final_rows, SCHEMA)
    ref_text, ref_ann = str(tmp / "ref_bm25"), str(tmp / "ref_ivf")
    text_index_write(final_df, ref_text, n_buckets=8)
    ivf_index_write(
        final_df.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ref_ann,
        centroids=cent,
    )

    got_t = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, text_path, queries, k=10).collect()
    }
    want_t = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, ref_text, queries, k=10).collect()
    }
    assert got_t == want_t and len(got_t) > 0

    vec_q = spark.createDataFrame(
        [(r[0], r[2]) for r in final_rows[:5]],
        "vec_id long, embedding array<double>",
    )
    got_a = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in ivf_index_query(vec_q, ann_path, k=5, nprobe=4).collect()
    }
    want_a = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in ivf_index_query(vec_q, ref_ann, k=5, nprobe=4).collect()
    }
    assert got_a == want_a and len(got_a) > 0

    # stats agree with the reference builds too
    with open(text_path + "/stats.json") as f:
        lived = json.load(f)
    with open(ref_text + "/stats.json") as f:
        ref = json.load(f)
    assert (lived["n_docs"], lived["total_dl"], lived["avgdl"]) == (
        ref["n_docs"],
        ref["total_dl"],
        ref["avgdl"],
    )
    n_live = (
        ivf_index_stats(spark, ann_path).agg(F.sum("n_vectors")).collect()[0][0]
    )
    assert n_live == len(final_rows)
