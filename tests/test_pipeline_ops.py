"""Semantics tests for dedup / similarity / text / multimodal operators."""

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators import multimodal as mm
from geoscan_fraud_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_candidate_pairs,
    minhash_dedup,
    simhash_pairs,
)
from geoscan_fraud_spark.operators.similarity import brute_force_topk, ivf_topk
from geoscan_fraud_spark.sources.io import load_fixture


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_fixture(spark, sf_dir, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return load_fixture(spark, sf_dir, "embeddings")


def test_exact_dedup_drops_copies(spark, docs):
    copies = docs.withColumn("doc_id", F.col("doc_id") + 10_000)
    both = docs.unionByName(copies)
    kept = exact_dedup(both, ["text"])
    assert kept.count() == docs.count()
    # min id retained
    assert kept.filter(F.col("doc_id") >= 10_000).count() == 0


def test_minhash_dedup_recall(spark, docs):
    words = F.split(F.col("text"), r"\s+")
    mutated = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat_ws(" ", F.filter(words, lambda w, i: (i % 13) != 5)).alias("text"),
    )
    both = docs.unionByName(mutated)

    # pair recall: the (orig, mutated-orig) pair must be found for >=90%
    # of docs (LSH band collision + jaccard >= threshold)
    from geoscan_fraud_spark.operators.dedup import jaccard_verified_pairs

    cand = minhash_candidate_pairs(both, num_hashes=48, bands=12)
    pairs = jaccard_verified_pairs(both, cand, threshold=0.5)
    n_orig = docs.count()
    hits = pairs.filter(F.col("id_b") == F.col("id_a") + 10_000).count()
    assert hits >= n_orig * 0.9

    kept = minhash_dedup(both, threshold=0.5, n=3, num_hashes=48, bands=12)
    n_kept = kept.count()
    # nearly every mutated doc collapses into its original's component;
    # intra-fixture near-dups may collapse further (word-soup docs share
    # shingles), so the floor is loose
    assert n_orig * 0.5 <= n_kept <= n_orig * 1.1
    # a component representative is always its min id: every kept mutated
    # doc must NOT have its original surviving too
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert all((i - 10_000) not in kept_ids or (i - 10_000, i) not in
               {(r["id_a"], r["id_b"]) for r in pairs.collect()}
               for i in kept_ids if i >= 10_000)


def test_minhash_candidates_subset_verified(spark, docs):
    cand = minhash_candidate_pairs(docs, num_hashes=48, bands=12)
    # candidate generation is symmetric-free and dedup'd
    assert cand.filter(F.col("id_a") >= F.col("id_b")).count() == 0


def test_simhash_finds_near_dups(spark, docs):
    words = F.split(F.col("text"), r"\s+")
    mutated = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        # drop a single word — tiny simhash perturbation
        F.concat_ws(" ", F.filter(words, lambda w, i: i != 2)).alias("text"),
    )
    both = docs.limit(100).unionByName(mutated.limit(100))
    pairs = simhash_pairs(both, max_hamming=8)
    hits = pairs.filter(F.col("id_b") == F.col("id_a") + 10_000).count()
    assert hits > 50  # most single-word-dropped docs within hamming 8


def test_embedding_neardup_lsh(spark, embeddings):
    dup = embeddings.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
        "label",
    )
    both = embeddings.unionByName(dup)
    pairs = embedding_neardup_pairs(both, threshold=0.999)
    hits = pairs.filter(F.col("id_b") == F.col("id_a") + 10_000).count()
    # scaled copies are cosine-identical; same LSH bucket by construction
    assert hits == embeddings.count()


def test_ivf_recall_vs_brute_force(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(q, embeddings, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(q, embeddings, k=10, n_centroids=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # nprobe/centroids = half the space probed


def test_ivf_fixed_centroids_recall_and_determinism(spark, embeddings):
    """The literal-centroid quantizer (oracle path) must be deterministic
    across runs and keep recall comparable to the KMeans path."""
    import numpy as np

    from geoscan_fraud_spark.operators.similarity import lloyd_centroids

    X = np.stack(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in embeddings.orderBy("vec_id").collect()
        ]
    )
    cent = lloyd_centroids(X, 8)
    assert cent == lloyd_centroids(X, 8)  # bit-identical rerun

    q = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(q, embeddings, k=10).collect()
    }
    rows1 = ivf_topk(q, embeddings, k=10, n_centroids=8, nprobe=4, centroids=cent).collect()
    rows2 = ivf_topk(q, embeddings, k=10, n_centroids=8, nprobe=4, centroids=cent).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))
    approx = {(r["query_id"], r["vec_id"]) for r in rows1}
    assert len(exact & approx) / len(exact) >= 0.5


def test_multimodal_plumbing(spark, docs):
    blobs = mm.documents_as_blobs(
        docs.withColumnRenamed("text", "t").selectExpr(
            "doc_id", "t as text", "'srcX' as source"
        )
    )
    meta = mm.attach_blob_metadata(blobs)
    row = meta.first()
    assert row["byte_len"] > 0 and row["sniffed_type"] == "application/octet-stream"

    feats = mm.extract_features(blobs).collect()
    assert all(len(r["features"]) == mm.FEATURE_DIM for r in feats)
    # deterministic across runs
    feats2 = mm.extract_features(blobs).collect()
    assert {r["blob_id"]: r["features"] for r in feats} == {
        r["blob_id"]: r["features"] for r in feats2
    }

    with pytest.raises(NotImplementedError, match="codec"):
        mm.extract_features(blobs, mode="real")


def test_quantize_embeddings_roundtrip_and_cosine_recall(spark, embeddings):
    """int8 quantization must reconstruct vectors within the per-vector
    quantization step and keep brute-force cosine top-k nearly intact."""
    from geoscan_fraud_spark.operators.similarity import (
        brute_force_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )

    q = quantize_embeddings(embeddings)
    # qvec really is int8 and scale positive
    row = q.first()
    assert all(-127 <= x <= 127 for x in row["qvec"])
    deq = dequantize_embeddings(q)
    joined = (
        embeddings.select("vec_id", F.col("embedding").alias("orig"))
        .join(deq, "vec_id")
    )
    err = joined.select(
        F.aggregate(
            F.zip_with(
                "orig", "embedding", lambda a, b: F.abs(a - b)
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("max_err"),
        F.aggregate(
            "orig", F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
        ).alias("amax"),
    )
    bad = err.filter(F.col("max_err") > F.col("amax") / 127.0 * 0.51).count()
    assert bad == 0  # error bounded by half a quantization step

    # top-k on dequantized vectors ~ top-k on originals
    queries = embeddings.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(queries, embeddings, k=10).collect()
    }
    dq_queries = deq.filter(F.col("vec_id") < 3)
    approx = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(dq_queries, deq, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9


def test_multimodal_crc32_and_feature_values(spark):
    """Pin the metadata crc32 and the fake-kernel feature VALUES against
    independent python (zlib / blake2b) — the value coverage the
    multimodal_features oracle cannot provide (DuckDB lacks both)."""
    import hashlib
    import zlib

    import numpy as np

    from geoscan_fraud_spark.operators.multimodal import (
        attach_blob_metadata,
        documents_as_blobs,
        extract_features,
    )

    docs = spark.createDataFrame(
        [(1, "hello blob", "s"), (2, "another payload", "s")],
        "doc_id long, text string, source string",
    )
    blobs = documents_as_blobs(docs)
    meta = {r["blob_id"]: r["crc32"] for r in attach_blob_metadata(blobs).collect()}
    feats = {r["blob_id"]: r["features"] for r in extract_features(blobs).collect()}

    for did, text in [(1, "hello blob"), (2, "another payload")]:
        payload = text.encode("utf-8")
        assert meta[did] == zlib.crc32(payload)
        raw = np.array(
            [
                int.from_bytes(
                    hashlib.blake2b(
                        payload, digest_size=8, salt=i.to_bytes(8, "little")
                    ).digest(),
                    "little",
                )
                / 2**64
                - 0.5
                for i in range(32)
            ]
        )
        expect = raw / (np.linalg.norm(raw) or 1.0)
        assert np.allclose(feats[did], expect)
