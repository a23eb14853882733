"""Round-9 fixes (VERDICT r08 + ADVICE r08):

* atomic index-metadata commits — a torn stats.json/centroids.json can
  no longer happen (tmp + os.replace), and a pre-existing corrupt file
  is refused with a clear message instead of an inscrutable
  JSONDecodeError;
* single-writer lock for the serving-index write paths (concurrent
  appends would lose one side's counter update);
* single-pass `text_index_append` (the batch is tokenized once, not
  three times) — measured with an accumulator, not asserted from the
  plan;
* `ivf_index_append` carries its own replay protection (skip committed
  src_batch, cursor commits with the counters in ONE write);
* idempotent `text_index_compact` stats (recomputed from surviving
  postings — the ADVICE r08 crash window heals by re-running);
* `hybrid_search` fails fast on query-id disagreement and supports
  external string query ids (dense leg runs exclude_self=False).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.retrieval import (
    text_index_append,
    text_index_compact,
    text_index_query,
    text_index_write,
)
from geoscan_fraud_spark.operators.similarity import (
    ivf_index_append,
    ivf_index_query,
    ivf_index_write,
    lloyd_centroids,
)
from geoscan_fraud_spark.sources.io import index_delete

DOCS = [
    (1, "the quick brown fox"),
    (2, "lazy dog sleeps"),
    (3, "quick quick fox"),
    (4, "spark sql engines"),
    (5, "engines process data"),
    (6, "fox and dog and engines"),
]
SCHEMA = "doc_id long, text string"


def _vec_corpus(n, seed, dim=6, id0=0):
    rng = np.random.RandomState(seed)
    return [(id0 + i, [float(x) for x in rng.randn(dim)]) for i in range(n)]


# ---------------------------------------------------------------- atomic meta


def test_corrupt_stats_json_is_refused_clearly(spark, tmp_path):
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    with open(path + "/stats.json", "w") as f:
        f.write('{"n_docs": 6, "total_')  # torn mid-write
    with pytest.raises(ValueError, match="corrupt"):
        text_index_query(spark, path, [("q", "fox")])
    with pytest.raises(ValueError, match="corrupt"):
        text_index_append(
            spark.createDataFrame([(7, "new doc")], SCHEMA), path
        )


def test_corrupt_centroids_json_is_refused_clearly(spark, tmp_path):
    path = str(tmp_path / "ivf")
    rows = _vec_corpus(20, seed=5)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_index_write(df, path, centroids=cent)
    with open(path + "/centroids.json", "w") as f:
        f.write('{"n_centroids": 2, "cent')
    with pytest.raises(ValueError, match="corrupt"):
        ivf_index_query(df.limit(1), path, k=3)
    with pytest.raises(ValueError, match="corrupt"):
        ivf_index_append(df, path)


def test_metadata_commit_is_atomic_on_disk(spark, tmp_path):
    """A leftover .tmp (crash between tmp-write and replace) leaves the
    live metadata intact and is simply overwritten by the next commit."""
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS[:3], SCHEMA), path, n_buckets=4)
    live = open(path + "/stats.json").read()
    # simulate a crash that wrote the tmp but never renamed it
    with open(path + "/stats.json.tmp", "w") as f:
        f.write('{"half": ')
    assert open(path + "/stats.json").read() == live  # old meta intact
    res = text_index_append(
        spark.createDataFrame(DOCS[3:], SCHEMA), path
    )
    assert res["rows"] == 3
    meta = json.load(open(path + "/stats.json"))
    assert meta["n_docs"] == 6
    assert not os.path.exists(path + "/stats.json.tmp")  # consumed/replaced


# ------------------------------------------------------------- writer lock


def test_writer_lock_refuses_concurrent_append(spark, tmp_path):
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    lock = os.path.join(path, ".writer.lock")
    with open(lock, "w") as f:
        f.write("pid=99999 op=text_index_append")
    batch = spark.createDataFrame([(7, "held elsewhere")], SCHEMA)
    with pytest.raises(ValueError, match="writer"):
        text_index_append(batch, path)
    with pytest.raises(ValueError, match="writer"):
        text_index_compact(spark, path)
    os.unlink(lock)
    assert text_index_append(batch, path)["rows"] == 1
    # the lock is released on success
    assert not os.path.exists(lock)


def test_writer_lock_refuses_concurrent_ivf_append(spark, tmp_path):
    path = str(tmp_path / "ivf")
    rows = _vec_corpus(20, seed=7)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_index_write(df, path, centroids=cent)
    lock = os.path.join(path, ".writer.lock")
    with open(lock, "w") as f:
        f.write("pid=99999 op=ivf_index_append")
    batch = spark.createDataFrame(
        _vec_corpus(5, seed=8, id0=100), "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="writer"):
        ivf_index_append(batch, path)
    os.unlink(lock)
    assert ivf_index_append(batch, path)["rows"] == 5
    assert not os.path.exists(lock)
    # queries never take the lock: a held lock must not block reads
    with open(lock, "w") as f:
        f.write("pid=99999 op=maintenance")
    assert ivf_index_query(df.limit(2), path, k=3).count() > 0
    os.unlink(lock)


def test_writer_lock_covers_builds(spark, tmp_path):
    """Rebuilding over a LIVE index is a write like any other: a held
    lock refuses the build; the build releases the lock on success."""
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    lock = os.path.join(path, ".writer.lock")
    assert not os.path.exists(lock)
    with open(lock, "w") as f:
        f.write("pid=1 op=append")
    with pytest.raises(ValueError, match="writer"):
        text_index_write(
            spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4
        )
    os.unlink(lock)

    ivf = str(tmp_path / "ivf")
    rows = _vec_corpus(10, seed=3)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_index_write(df, ivf, centroids=cent)
    assert not os.path.exists(os.path.join(ivf, ".writer.lock"))
    with open(os.path.join(ivf, ".writer.lock"), "w") as f:
        f.write("pid=1 op=append")
    with pytest.raises(ValueError, match="writer"):
        ivf_index_write(df, ivf, centroids=cent)


def test_writer_lock_released_on_failure(spark, tmp_path):
    """A failing write op (dim mismatch) must not leave a stale lock
    behind — the finally-release is part of the contract."""
    path = str(tmp_path / "ivf")
    rows = _vec_corpus(20, seed=9, dim=6)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_index_write(df, path, centroids=cent)
    wrong_dim = spark.createDataFrame(
        _vec_corpus(3, seed=10, dim=4, id0=100),
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dim mismatch"):
        ivf_index_append(wrong_dim, path)
    assert not os.path.exists(os.path.join(path, ".writer.lock"))
    # and the index still accepts a good batch afterwards
    good = spark.createDataFrame(
        _vec_corpus(3, seed=10, dim=6, id0=100),
        "vec_id long, embedding array<double>",
    )
    assert ivf_index_append(good, path)["rows"] == 3


# ------------------------------------------------------- single-pass append


def test_text_index_append_tokenizes_batch_once(spark, tmp_path):
    """VERDICT r08 #3: the append used to execute the batch lineage three
    times (postings write, df-log write, counter agg). Measure actual
    evaluations with an accumulator inside the batch lineage: the
    postings write materializes the persisted relation (pass 1) and the
    doc-count touches new_docs again (pass 2, no tokenization); the
    df log and the (total_dl, doc) counters must come from the cache."""
    import pandas as pd

    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS[:2], SCHEMA), path, n_buckets=4)

    acc = spark.sparkContext.accumulator(0)
    base = spark.createDataFrame(DOCS[2:], SCHEMA).repartition(2)

    def counting(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    batch = base.mapInPandas(counting, SCHEMA)
    res = text_index_append(batch, path)
    assert res["rows"] == 4
    # 4 rows x at most 2 passes (write + count); 3 lineage executions
    # would show 12
    assert acc.value <= 8, f"batch evaluated {acc.value / 4:.1f} times"

    # and the single-pass path still serves bit-identical results
    full = str(tmp_path / "full")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), full, n_buckets=4)
    qs = [("q1", "fox engines"), ("q2", "quick dog")]
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, path, qs, k=5).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, full, qs, k=5).collect()
    }
    assert got == want and len(got) > 0
    assert pd is not None


# ------------------------------------------------- ivf append replay guard


def test_ivf_index_append_skips_committed_src_batch(spark, tmp_path):
    """ADVICE r08: replay protection lives in the append itself now — a
    direct caller retrying a committed batch is skipped and the meta
    counters are never double-counted."""
    path = str(tmp_path / "ivf")
    rows = _vec_corpus(20, seed=11)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_index_write(df, path, centroids=cent)

    batch = spark.createDataFrame(
        _vec_corpus(6, seed=12, id0=100), "vec_id long, embedding array<double>"
    )
    first = ivf_index_append(batch, path, src_batch=0)
    assert first["rows"] == 6 and first["skipped_replay"] is False
    meta1 = json.load(open(path + "/centroids.json"))
    assert meta1["last_stream_batch"] == 0

    retry = ivf_index_append(batch, path, src_batch=0)
    assert retry["skipped_replay"] is True and retry["rows"] == 0
    meta2 = json.load(open(path + "/centroids.json"))
    assert meta2 == meta1  # counters untouched, one commit only

    nxt = ivf_index_append(batch.limit(0), path, src_batch=1)
    assert nxt["rows"] == 0 and nxt["skipped_replay"] is False
    # an empty committed batch still advances the cursor
    assert json.load(open(path + "/centroids.json"))["last_stream_batch"] == 1


# ----------------------------------------------- idempotent compact stats


def test_text_index_compact_stats_heal_by_rerun(spark, tmp_path):
    """ADVICE r08 crash window: postings swap landed, stats write didn't.
    Because compact RECOMPUTES the counters from the surviving postings,
    simply re-running restores exact stats (the old subtract-a-delta
    scheme would measure 0 doomed docs and leave them overstated)."""
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    pre_meta = open(path + "/stats.json").read()

    index_delete(spark, path, [2, 6])
    text_index_compact(spark, path)
    good = json.load(open(path + "/stats.json"))
    assert good["n_docs"] == 4

    # crash simulation: the postings rewrite survived, the stats (and
    # tombstone cleanup) did not
    with open(path + "/stats.json", "w") as f:
        f.write(pre_meta)
    text_index_compact(spark, path)  # rerun = the recovery
    healed = json.load(open(path + "/stats.json"))
    assert healed["n_docs"] == good["n_docs"]
    assert healed["total_dl"] == good["total_dl"]
    assert healed["avgdl"] == good["avgdl"]

    # and the healed index serves exactly like a never-crashed rebuild
    ref = str(tmp_path / "ref")
    text_index_write(
        spark.createDataFrame([d for d in DOCS if d[0] not in (2, 6)], SCHEMA),
        ref,
        n_buckets=4,
    )
    qs = [("q1", "fox engines"), ("q2", "quick dog")]
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, path, qs, k=5).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, ref, qs, k=5).collect()
    }
    assert got == want and len(got) > 0


def test_compact_preserves_empty_doc_count(spark, tmp_path):
    """Zero-token docs have no postings; the n_empty counter keeps them
    in n_docs across recomputing compactions (idf damping parity with a
    from-scratch build over the same corpus)."""
    docs = DOCS + [(7, ""), (8, "   ")]
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(docs[:5], SCHEMA), path, n_buckets=4)
    text_index_append(spark.createDataFrame(docs[5:], SCHEMA), path)
    index_delete(spark, path, [1])
    text_index_compact(spark, path)

    ref = str(tmp_path / "ref")
    text_index_write(
        spark.createDataFrame([d for d in docs if d[0] != 1], SCHEMA),
        ref,
        n_buckets=4,
    )
    got = json.load(open(path + "/stats.json"))
    want = json.load(open(ref + "/stats.json"))
    assert got["n_docs"] == want["n_docs"]  # empties counted
    assert got["total_dl"] == want["total_dl"]
    assert got["avgdl"] == want["avgdl"]
    assert got["n_empty"] == 2

    qs = [("q1", "fox engines"), ("q2", "quick dog")]
    a = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, path, qs, k=5).collect()
    }
    b = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, ref, qs, k=5).collect()
    }
    assert a == b and len(a) > 0


# ------------------------------------------------------------ hybrid guard


def _hybrid_fixture(spark, tmp):
    rng = np.random.RandomState(31)
    rows = [
        (i, " ".join(rng.choice(["alpha", "beta", "fox", "spark", "data"],
                                size=5)),
         [float(x) for x in rng.randn(6)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "embedding array<double>")
    cent = lloyd_centroids(np.array([r[2] for r in rows]), 3)
    text_path, ann_path = str(tmp / "bm25"), str(tmp / "ivf")
    text_index_write(df, text_path, n_buckets=8)
    ivf_index_write(
        df.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann_path,
        centroids=cent,
    )
    return rows, text_path, ann_path


def test_hybrid_search_rejects_mismatched_query_ids(spark, tmp_path):
    from geoscan_fraud_spark.operators.retrieval import hybrid_search

    rows, text_path, ann_path = _hybrid_fixture(spark, tmp_path)
    queries = [("q1", rows[0][1])]
    wrong_emb = spark.createDataFrame(
        [("q2", rows[0][2])], "query_id string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="query ids disagree"):
        hybrid_search(spark, text_path, ann_path, queries, wrong_emb, k=5)


def test_hybrid_search_external_string_query_ids(spark, tmp_path):
    """ADVICE r08 (high): string query ids used to throw CAST_INVALID_INPUT
    in the dense leg's self-exclusion under ANSI mode; with
    exclude_self=False they are first-class, and a numeric query id equal
    to a corpus vec_id no longer silently drops that doc."""
    from geoscan_fraud_spark.operators.retrieval import hybrid_search

    rows, text_path, ann_path = _hybrid_fixture(spark, tmp_path)
    queries = [("q1", rows[4][1]), ("q2", rows[9][1])]
    query_emb = spark.createDataFrame(
        [("q1", rows[4][2]), ("q2", rows[9][2])],
        "query_id string, embedding array<double>",
    )
    fused = hybrid_search(
        spark, text_path, ann_path, queries, query_emb, k=5
    ).collect()
    by_q = {}
    for r in fused:
        by_q.setdefault(r["query_id"], []).append(r["doc_id"])
    assert set(by_q) == {"q1", "q2"}
    # the query IS a corpus doc (text + embedding both copied from it):
    # with the self-exclusion gone it must dominate its own result list
    assert 4 in by_q["q1"] and 9 in by_q["q2"]


def test_ivf_query_numeric_external_id_keeps_colliding_doc(spark, tmp_path):
    """exclude_self=False: a query whose id collides with a corpus vec_id
    still retrieves that corpus vector (the default corpus-self-join
    contract would drop it)."""
    path = str(tmp_path / "ivf")
    rows = _vec_corpus(20, seed=41)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_index_write(df, path, centroids=cent)

    probe = df.filter(F.col("vec_id") == 5)  # external query, id collides
    with_self = ivf_index_query(probe, path, k=3, exclude_self=False)
    top = with_self.filter(F.col("rank") == 1).first()
    # re-rank is against dequantized (int8) vectors — sim ~ 1.0 minus
    # the quantization error
    assert top["vec_id"] == 5 and top["sim"] >= 0.999
    without = ivf_index_query(probe, path, k=3)  # default contract intact
    assert 5 not in {r["vec_id"] for r in without.collect()}


# -------------------------------------------------- span-store migration


def test_migrate_span_store_origins(spark, tmp_path):
    """VERDICT r08 #8: provenance-free (src_batch=-1) base rows become a
    single group-summed MIGRATED_ORIGIN row per gram — gram totals are
    preserved, known-origin rows untouched, and the migrated generation
    is dedupable again (a future crash duplicate is dropped)."""
    from geoscan_fraud_spark.operators.spans import (
        MIGRATED_ORIGIN,
        dedup_span_store,
        merge_span_index,
        migrate_span_store_origins,
        span_gram_index,
    )

    docs = [
        (0, "a b c d e f g h i j"),
        (1, "a b c d e f g h i j"),
        (2, "q r s t u v w x y z"),
    ]
    rows = span_gram_index(
        spark.createDataFrame(docs, "doc_id int, text string"), min_len=5
    )
    path = str(tmp_path / "span_store")
    # legacy base: two unknown-origin copies of the same grams (two
    # pre-r07 batches whose provenance was lost) + one known-origin row set
    legacy = rows.withColumn("src_batch", F.lit(-1))
    legacy.unionByName(legacy).unionByName(
        rows.withColumn("src_batch", F.lit(7))
    ).write.parquet(f"{path}/batch_id=-1")
    rows.write.parquet(f"{path}/batch_id=9")  # live partition, untouched

    before = merge_span_index(
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("gh", "cnt")
    ).orderBy("gh").collect()

    n = migrate_span_store_origins(spark, path)
    assert n == 2 * rows.count()

    base = spark.read.parquet(f"{path}/batch_id=-1")
    unknown = base.filter(
        F.col("src_batch").isNull() | (F.col("src_batch") == -1)
    )
    assert unknown.count() == 0  # caveat gone
    mig = base.filter(F.col("src_batch") == MIGRATED_ORIGIN)
    # one row per gram in the migrated generation
    assert mig.count() == mig.select("gh").distinct().count() == rows.count()
    # gram TOTALS preserved exactly (store semantics are count sums)
    after = merge_span_index(
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("gh", "cnt")
    ).orderBy("gh").collect()
    assert after == before

    # the migrated generation is dedupable: a future crashed re-fold
    # duplicating it is collapsed by the store read guard
    raw = spark.read.option("mergeSchema", "true").parquet(path)
    crashed = raw.unionByName(
        base.filter(F.col("src_batch") == MIGRATED_ORIGIN).withColumn(
            "batch_id", F.lit(-1)
        ).select(raw.columns)
    )
    healed = merge_span_index(dedup_span_store(crashed)).orderBy("gh").collect()
    assert healed == [  # == the clean store's totals
        r for r in merge_span_index(
            dedup_span_store(raw)
        ).orderBy("gh").collect()
    ]

    # idempotent: a second run finds nothing to migrate
    assert migrate_span_store_origins(spark, path) == 0


def test_spans_row_scaling_is_linear(spark):
    """VERDICT r08 #5 (the 400x-flood pattern applied to ROWS): k
    disjoint shards of the same span workload must cost exactly k times
    the marked rows and k times the gram-store rows — a structural
    assertion that no stage pairs rows ACROSS shards (the blowup a
    timing curve would only show statistically). Shards are made
    disjoint by suffixing every token with the shard index, so
    cross-shard gram overlap is zero by construction."""
    from geoscan_fraud_spark.operators.spans import (
        repeated_gram_starts,
        span_gram_index,
    )

    def corpus(k):
        rows = []
        for i in range(k):
            rep = " ".join(f"r{i}_{t}" for t in range(10))
            for j in range(40):
                body = " ".join(f"w{i}_{j}_{t}" for t in range(10))
                rows.append((i * 1000 + j, body + " " + rep))
        return spark.createDataFrame(rows, "doc_id int, text string")

    m1 = repeated_gram_starts(corpus(1), min_len=8).count()
    g1 = span_gram_index(corpus(1), min_len=8).count()
    assert m1 > 0 and g1 > 0
    m4 = repeated_gram_starts(corpus(4), min_len=8).count()
    g4 = span_gram_index(corpus(4), min_len=8).count()
    assert m4 == 4 * m1  # marked rows: exactly linear in shards
    assert g4 == 4 * g1  # gram store: exactly linear in shards


def test_migrate_span_store_refuses_leftovers_and_missing_base(
    spark, tmp_path
):
    from geoscan_fraud_spark.operators.spans import migrate_span_store_origins

    path = str(tmp_path / "store")
    os.makedirs(path)
    with pytest.raises(ValueError, match="does not exist"):
        migrate_span_store_origins(spark, path)
    os.makedirs(path + ".__old__")
    with pytest.raises(ValueError, match="crashed mid-swap"):
        migrate_span_store_origins(spark, path)
