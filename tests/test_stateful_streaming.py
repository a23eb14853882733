"""Stateful streaming operator: per-user novel-tile detection."""

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.scoring import with_cell
from geoscan_fraud_spark.streaming.stateful import novel_tile_stream
from geoscan_fraud_spark.testing.datagen import make_transactions


def test_novel_tile_stream_emits_first_occurrences(spark, tmp_path):
    pdf = make_transactions(n_users=3, points_per_user=200, seed=9)
    pdf["ts"] = pd_timestamps(len(pdf))
    tx = spark.createDataFrame(pdf)
    src = str(tmp_path / "stateful_src")
    tx.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    # ttl_ms=None: a ProcessingTimeTimeout stateful op never lets
    # availableNow terminate (shouldRunAnotherBatch is always true) —
    # the old form of this test silently relied on reading the memory
    # sink after awaitTermination(120) EXPIRED, leaking a live query.
    out = novel_tile_stream(stream, res=10, ttl_ms=None)
    q = (
        out.writeStream.format("memory")
        .queryName("novel_tiles")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow cycle must terminate"
    got = spark.sql("SELECT user, h3 FROM novel_tiles").collect()

    # exactly one emission per distinct (user, tile)
    want = (
        with_cell(tx, res=10)
        .select(F.col("user"), "h3")
        .distinct()
        .count()
    )
    assert len(got) == want
    assert len({(r["user"], r["h3"]) for r in got}) == len(got)


def pd_timestamps(n):
    import pandas as pd

    return pd.date_range("2024-01-01", periods=n, freq="min")


def test_novel_tile_ttl_expires_state(spark, tmp_path):
    """The production TTL path end-to-end: with a short
    ProcessingTimeTimeout, state expires during an idle stretch (the
    `hasTimedOut` branch removes the envelope without re-arming), so a
    LATER sighting of the SAME tile is novel again and re-emits. This is
    the only test that drives the timeout machinery — the gate entry and
    the first-occurrence test deliberately run `ttl_ms=None` because a
    ProcessingTimeTimeout operator never lets availableNow terminate."""
    import time

    import pandas as pd

    src = str(tmp_path / "ttl_src")
    row = pd.DataFrame(
        {
            "user": ["u1"],
            "ts": [pd.Timestamp("2024-01-01 00:00:00")],
            "latitude": [40.75],
            "longitude": [-73.98],
        }
    )
    spark.createDataFrame(row).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = novel_tile_stream(stream, res=10, ttl_ms=1500)
    q = (
        out.writeStream.format("memory")
        .queryName("novel_ttl")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:

        def wait_count(n, deadline=90):
            t0 = time.time()
            while time.time() - t0 < deadline:
                if spark.sql("SELECT * FROM novel_ttl").count() >= n:
                    return True
                time.sleep(0.5)
            return False

        assert wait_count(1), "first sighting never emitted"
        # idle well past the TTL: the timeout fires in one of the
        # continuous no-data micro-batches and drops the envelope
        time.sleep(6)
        row2 = row.assign(ts=[pd.Timestamp("2024-01-01 01:00:00")])
        spark.createDataFrame(row2).coalesce(1).write.mode("append").parquet(src)
        assert wait_count(2), (
            "tile did not re-emit after TTL expiry — hasTimedOut branch "
            "never removed the state"
        )
        rows = spark.sql("SELECT user, h3 FROM novel_ttl").collect()
        assert len({(r["user"], r["h3"]) for r in rows}) == 1, (
            "both emissions must be the same (user, tile) — re-emission "
            "proves expiry, not a different tile"
        )
    finally:
        q.stop()


def test_dedup_stream_emits_first_occurrence_only(spark, tmp_path):
    import pandas as pd

    from geoscan_fraud_spark.streaming.scoring import dedup_stream

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 1, 3, 2, 1, 4],
            "text": list("aba cb aa".replace(" ", "")),
            "ts": pd.date_range("2024-01-01", periods=7, freq="min"),
        }
    )
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = dedup_stream(stream, ["doc_id"], ts_col="ts", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_stream_t").collect())
    assert got == [1, 2, 3, 4]


def test_neardup_ingest_sink_dedups_across_batches(spark, tmp_path):
    """Micro-batches arriving in order: batch 0 establishes the corpus
    and index; batch 1's exact copies and near-dups are dropped against
    the PERSISTED index, its fresh doc survives."""
    from geoscan_fraud_spark.streaming.scoring import neardup_ingest_sink

    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(w for i, w in enumerate(base.split()) if i % 13 != 5)
    fresh = " ".join(f"z{i}" for i in range(60))

    index_path = str(tmp_path / "sig_index")
    out_path = str(tmp_path / "corpus")
    sink = neardup_ingest_sink(
        index_path, out_path, num_hashes=48, bands=12, threshold=0.5
    )

    b0 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(10, base), (11, near), (12, fresh)], "doc_id long, text string"
    )
    sink(b0, 0)
    sink(b1, 1)

    corpus = spark.read.parquet(out_path)
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 12]
    idx = spark.read.parquet(index_path)
    assert sorted(r.id for r in idx.collect()) == [1, 12]

    # retry replay of batch 1 must not double-append (idempotent writes)
    sink(b1, 1)
    assert sorted(r.doc_id for r in spark.read.parquet(out_path).collect()) == [1, 12]


def test_ingest_sink_raises_on_store_missing_an_index_column(spark, tmp_path):
    """A store that holds a committed batch is read, never bootstrapped:
    one whose rows lack an index column ('sig') raises instead of
    deduping the next batch against an empty index."""
    from pyspark.errors import AnalysisException

    from geoscan_fraud_spark.streaming.scoring import neardup_ingest_sink

    index_path = str(tmp_path / "sig_index")
    out_path = str(tmp_path / "corpus")
    spark.createDataFrame([(1,)], "id long").write.parquet(
        f"{index_path}/batch_id=0"
    )
    sink = neardup_ingest_sink(index_path, out_path)
    batch = spark.createDataFrame([(10, "w1 w2 w3 w4")], "doc_id long, text string")
    with pytest.raises(AnalysisException):
        sink(batch, 1)
    assert not (tmp_path / "corpus").exists()


def test_neardup_ingest_sink_through_streaming_query(spark, tmp_path):
    """End-to-end through writeStream.foreachBatch with availableNow."""
    from geoscan_fraud_spark.streaming.scoring import neardup_ingest_sink

    src = str(tmp_path / "src")
    texts = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        (3, "one two three four five six seven eight"),
    ]
    spark.createDataFrame(texts, "doc_id long, text string").coalesce(
        1
    ).write.parquet(src)

    index_path = str(tmp_path / "idx")
    out_path = str(tmp_path / "out")
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            neardup_ingest_sink(
                index_path, out_path, num_hashes=48, bands=12, threshold=0.9
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert kept == [1, 3]


def test_embedding_ingest_sink_dedups_across_batches(spark, tmp_path):
    from geoscan_fraud_spark.streaming.scoring import embedding_ingest_sink

    import numpy as np

    rng = np.random.RandomState(7)
    v1 = [float(x) for x in rng.randn(64)]
    v2 = [float(x) for x in rng.randn(64)]
    near_v1 = [x * 1.001 for x in v1]  # cosine ~1

    index_path = str(tmp_path / "emb_idx")
    out_path = str(tmp_path / "emb_out")
    sink = embedding_ingest_sink(index_path, out_path, threshold=0.98)

    schema = "vec_id long, embedding array<float>"
    b0 = spark.createDataFrame([(1, v1)], schema)
    b1 = spark.createDataFrame([(10, near_v1), (11, v2)], schema)
    sink(b0, 0)
    sink(b1, 1)

    kept = sorted(r.vec_id for r in spark.read.parquet(out_path).collect())
    assert kept == [1, 11]
    idx = sorted(r.id for r in spark.read.parquet(index_path).collect())
    assert idx == [1, 11]

    # replay of batch 1: unchanged (index read excludes own delta)
    sink(b1, 1)
    assert sorted(r.vec_id for r in spark.read.parquet(out_path).collect()) == [1, 11]


def test_ann_index_ingest_sink_appends_skips_replays_and_recovers(
    spark, tmp_path
):
    """Streamed batches become retrievable; a replay of a COMMITTED
    batch is skipped; a crash-window replay (append landed, meta commit
    didn't) is healed exactly by ivf_index_compact."""
    import json

    import numpy as np
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_compact,
        ivf_index_query,
        ivf_index_stats,
        ivf_index_write,
        lloyd_centroids,
    )
    from geoscan_fraud_spark.streaming.scoring import ann_index_ingest_sink

    rng = np.random.RandomState(11)
    seed_vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(40)]
    schema = "vec_id long, embedding array<double>"
    seed_df = spark.createDataFrame(seed_vecs, schema)
    cent = lloyd_centroids(np.array([v for _, v in seed_vecs]), 4)

    path = str(tmp_path / "ann_idx")
    ivf_index_write(seed_df, path, centroids=cent)

    b0 = spark.createDataFrame(
        [(100 + i, [float(x) for x in rng.randn(8)]) for i in range(10)], schema
    )
    drifted = []
    sink = ann_index_ingest_sink(path, on_drift=drifted.append)
    sink(b0, 0)

    total = lambda: ivf_index_stats(spark, path).agg(  # noqa: E731
        F.sum("n_vectors")
    ).collect()[0][0]
    assert total() == 50
    # a streamed vector is retrievable: query with its own embedding
    got = ivf_index_query(b0.filter(F.col("vec_id") == 100), path, k=50, nprobe=4)
    assert got.count() > 0

    # replay of the committed batch: skipped, nothing double-appended
    sink(b0, 0)
    assert total() == 50
    with open(path + "/centroids.json") as f:
        assert json.load(f)["last_stream_batch"] == 0

    q = seed_df.filter(F.col("vec_id") < 5)
    clean = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in ivf_index_query(q, path, k=5, nprobe=4).collect()
    }

    # crash window: simulate a replay whose append landed but whose meta
    # commit didn't by resetting the committed id
    with open(path + "/centroids.json") as f:
        meta = json.load(f)
    meta["last_stream_batch"] = -1
    with open(path + "/centroids.json", "w") as f:
        json.dump(meta, f)
    sink(b0, 0)
    assert total() == 60  # bit-identical duplicates present
    ivf_index_compact(spark, path)
    assert total() == 50  # distinct() removed exactly the replay
    healed = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in ivf_index_query(q, path, k=5, nprobe=4).collect()
    }
    assert healed == clean and len(healed) > 0

    assert drifted == []  # same-distribution batches never trip the guard


def test_ann_index_ingest_sink_drift_hook(spark, tmp_path):
    """A shifted batch trips the on_drift hook but still lands."""
    import numpy as np
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_stats,
        ivf_index_write,
        lloyd_centroids,
    )
    from geoscan_fraud_spark.streaming.scoring import ann_index_ingest_sink

    rng = np.random.RandomState(13)
    seed_vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(30)]
    schema = "vec_id long, embedding array<double>"
    seed_df = spark.createDataFrame(seed_vecs, schema)
    cent = lloyd_centroids(np.array([v for _, v in seed_vecs]), 4)
    path = str(tmp_path / "ann_drift")
    ivf_index_write(seed_df, path, centroids=cent)

    shifted = spark.createDataFrame(
        [(200 + i, [float(x) + 40.0 for x in rng.randn(8)]) for i in range(10)],
        schema,
    )
    drifted = []
    sink = ann_index_ingest_sink(path, on_drift=drifted.append)
    sink(shifted, 0)
    assert len(drifted) == 1 and drifted[0]["rebuild_recommended"] is True
    total = ivf_index_stats(spark, path).agg(F.sum("n_vectors")).collect()[0][0]
    assert total == 40  # the write was never blocked


def test_text_index_ingest_sink_replay_and_crash_heal(spark, tmp_path):
    """Streamed docs become searchable; committed replays are skipped;
    the true crash window (postings/terms landed, stats write didn't)
    leaves counters correct after replay and row duplicates that
    text_index_compact heals back to a never-crashed index."""
    import json

    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators.retrieval import (
        text_index_compact,
        text_index_query,
        text_index_write,
    )
    from geoscan_fraud_spark.streaming.scoring import text_index_ingest_sink

    docs = [
        (1, "the quick brown fox"),
        (2, "lazy dog sleeps"),
        (3, "quick quick fox"),
        (4, "spark sql engines"),
        (5, "engines process data"),
        (6, "fox and dog and engines"),
    ]
    schema = "doc_id long, text string"
    all_df = spark.createDataFrame(docs, schema)
    seed = all_df.filter(F.col("doc_id") <= 3)
    batch = all_df.filter(F.col("doc_id") > 3)

    path, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    text_index_write(seed, path, n_buckets=8)
    text_index_write(all_df, ref, n_buckets=8)

    sink = text_index_ingest_sink(path)
    queries = [("q1", "fox engines"), ("q2", "quick dog")]

    stats_file = path + "/stats.json"
    pre_append = open(stats_file).read()  # the crash-window snapshot
    sink(batch, 0)

    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, ref, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, path, queries, k=5).collect()
    }
    assert got == want and len(got) > 0

    # committed replay: skipped (counters and rows unchanged)
    with open(stats_file) as f:
        committed = json.load(f)
    sink(batch, 0)
    with open(stats_file) as f:
        assert json.load(f) == committed

    # crash window: the first attempt's stats write never landed
    with open(stats_file, "w") as f:
        f.write(pre_append)
    sink(batch, 0)  # replay re-appends rows, commits counters ONCE
    with open(stats_file) as f:
        healed_meta = json.load(f)
    assert healed_meta["n_docs"] == committed["n_docs"]
    assert healed_meta["total_dl"] == committed["total_dl"]
    # duplicated posting rows present until maintenance
    fox_engines = (
        spark.read.parquet(path + "/postings")
        .filter(F.col("doc_id") == 6)
        .count()
    )
    assert fox_engines == 8  # doc 6 has 4 distinct terms, each duplicated

    text_index_compact(spark, path)
    after = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, path, queries, k=5).collect()
    }
    assert after == want


def test_forget_ids_embedding_store(spark, tmp_path):
    """forget_ids works identically on the int8 vector store (the other
    incremental_ingest_sink instance): a forgotten vector's near-dup is
    admitted on the next batch."""
    import numpy as np

    from geoscan_fraud_spark.sources.io import forget_ids
    from geoscan_fraud_spark.streaming.scoring import embedding_ingest_sink

    rng = np.random.RandomState(21)
    v = [float(x) for x in rng.randn(64)]
    near = [x * 1.001 for x in v]
    schema = "vec_id long, embedding array<float>"
    index_path = str(tmp_path / "emb_idx")
    out_path = str(tmp_path / "emb_out")
    sink = embedding_ingest_sink(index_path, out_path, threshold=0.98)

    sink(spark.createDataFrame([(1, v)], schema), 0)
    sink(spark.createDataFrame([(2, near)], schema), 1)  # suppressed
    kept = lambda: sorted(  # noqa: E731
        r.vec_id for r in spark.read.parquet(out_path).collect()
    )
    assert kept() == [1]
    forget_ids(spark, index_path, [1])
    sink(spark.createDataFrame([(3, near)], schema), 2)
    assert kept() == [1, 3]


def test_forget_ids_unsuppresses_future_duplicates(spark, tmp_path):
    """Right-to-be-forgotten on the MinHash signature store: after
    forget_ids, a future duplicate of the forgotten doc is admitted
    (the store behaves as if the doc was never ingested), compaction
    applies the tombstone physically, and dedup keeps working for the
    docs that remain."""
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.sources.io import compact_index, forget_ids
    from geoscan_fraud_spark.streaming.scoring import neardup_ingest_sink

    text = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string"
    index_path = str(tmp_path / "sig_store")
    out_path = str(tmp_path / "corpus")
    sink = neardup_ingest_sink(index_path, out_path, threshold=0.8)

    sink(spark.createDataFrame([(1, text)], schema), 0)
    sink(spark.createDataFrame([(2, text)], schema), 1)  # suppressed dup
    kept = lambda: sorted(  # noqa: E731
        r["doc_id"] for r in spark.read.parquet(out_path).collect()
    )
    assert kept() == [1]

    forget_ids(spark, index_path, [1])
    sink(spark.createDataFrame([(3, text)], schema), 2)
    assert kept() == [1, 3]  # no longer suppressed by the forgotten doc

    # compaction folds the tombstone in physically...
    compact_index(spark, index_path, keep_last=1)
    store_ids = {
        r["id"]
        for r in spark.read.option("mergeSchema", "true")
        .parquet(index_path)
        .select("id")
        .distinct()
        .collect()
    }
    assert 1 not in store_ids and 3 in store_ids
    # ...and the store still suppresses duplicates of the SURVIVING doc
    sink(spark.createDataFrame([(4, text)], schema), 3)
    assert kept() == [1, 3]


def test_profile_sink_rollup_matches_batch_profile(spark, tmp_path):
    from geoscan_fraud_spark.operators.profiling import merge_profiles, profile_corpus
    from geoscan_fraud_spark.streaming.scoring import profile_sink

    rows0 = [(i, f"alpha beta tok{i}", "web") for i in range(50)]
    rows1 = [(i + 100, f"gamma delta tok{i}", "web") for i in range(50)]
    schema = "doc_id long, text string, source string"
    b0 = spark.createDataFrame(rows0, schema)
    b1 = spark.createDataFrame(rows1, schema)
    path = str(tmp_path / "profiles")
    sink = profile_sink(path, ["source"])
    sink(b0, 0)
    sink(b1, 1)

    merged = merge_profiles(
        spark.read.parquet(path).drop("batch_id"), ["source"]
    ).collect()[0]
    direct = profile_corpus(b0.unionByName(b1), ["source"]).collect()[0]
    assert merged.n_docs == direct.n_docs == 100
    assert merged.n_tokens == direct.n_tokens
    assert (
        abs(merged.distinct_tokens - direct.distinct_tokens)
        <= 0.02 * direct.distinct_tokens
    )


def test_prepared_ingest_sink_gates_and_dedups(spark, tmp_path):
    """Streaming prepare: spam fails the quality gate, a case-variant of
    an earlier batch's doc dedups through normalized signatures, raw
    text is stored, and the fresh doc survives."""
    from geoscan_fraud_spark.streaming.scoring import prepared_ingest_sink

    base = " ".join(f"w{i}" for i in range(60))
    fresh = " ".join(f"z{i}" for i in range(60))

    index_path = str(tmp_path / "p_idx")
    out_path = str(tmp_path / "p_out")
    sink = prepared_ingest_sink(
        index_path,
        out_path,
        num_hashes=48,
        bands=12,
        threshold=0.5,
        normalize_signatures=True,
    )

    b0 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [
            (10, base.upper() + "  "),   # case/space variant of doc 1
            (11, "spam " * 50),          # fails the repetition gate
            (12, fresh),
        ],
        "doc_id long, text string",
    )
    sink(b0, 0)
    sink(b1, 1)

    corpus = spark.read.parquet(out_path)
    rows = {r.doc_id: r.text for r in corpus.collect()}
    assert sorted(rows) == [1, 12]
    assert rows[12] == fresh  # raw text stored, not the normalized shadow

    # retry replay stays idempotent
    sink(b1, 1)
    assert sorted(r.doc_id for r in spark.read.parquet(out_path).collect()) == [1, 12]


def test_prepared_serving_sink_end_to_end(spark, tmp_path):
    """gate -> dedup -> store -> serve in one foreachBatch: survivors of
    the quality gate and the near-dup store become searchable in BOTH
    serving indexes; rejects and duplicates never reach them; a replay
    changes nothing anywhere."""
    import numpy as np
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators.retrieval import (
        text_index_query,
        text_index_write,
    )
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_stats,
        ivf_index_write,
        lloyd_centroids,
    )
    from geoscan_fraud_spark.streaming.scoring import prepared_serving_sink

    rng = np.random.RandomState(5)
    vec = lambda: [float(x) for x in rng.randn(8)]  # noqa: E731
    base = " ".join(f"w{i}" for i in range(60))
    fresh = "retrieval target " + " ".join(f"z{i}" for i in range(58))
    schema = "doc_id long, text string, embedding array<double>"

    seed = [(0, "seed doc " + " ".join(f"s{i}" for i in range(58)), vec())]
    seed_df = spark.createDataFrame(seed, schema)
    cent = lloyd_centroids(np.array([seed[0][2]]), 1)

    paths = {n: str(tmp_path / n) for n in ("store", "out", "bm25", "ivf")}
    text_index_write(seed_df, paths["bm25"], n_buckets=8)
    ivf_index_write(
        seed_df.select(F.col("doc_id").alias("vec_id"), "embedding"),
        paths["ivf"],
        centroids=cent,
    )

    sink = prepared_serving_sink(
        paths["store"],
        paths["out"],
        text_index_path=paths["bm25"],
        ann_index_path=paths["ivf"],
        emb_col="embedding",
        num_hashes=48,
        bands=12,
        threshold=0.5,
    )
    b0 = spark.createDataFrame([(1, base, vec())], schema)
    b1 = spark.createDataFrame(
        [
            (10, base, vec()),        # near-dup of doc 1 -> suppressed
            (11, "spam " * 50, vec()),  # fails the repetition gate
            (12, fresh, vec()),       # survives
        ],
        schema,
    )
    sink(b0, 0)
    sink(b1, 1)

    kept = sorted(r.doc_id for r in spark.read.parquet(paths["out"]).collect())
    assert kept == [1, 12]

    # the survivor is lexically searchable; rejects/dups are not indexed
    hits = text_index_query(
        spark, paths["bm25"], [("q", "retrieval target")], k=5
    ).collect()
    assert 12 in {r["doc_id"] for r in hits}
    indexed = {
        r["doc_id"]
        for r in spark.read.parquet(paths["bm25"] + "/postings")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert indexed == {0, 1, 12}
    n_vec = (
        ivf_index_stats(spark, paths["ivf"]).agg(F.sum("n_vectors")).collect()[0][0]
    )
    assert n_vec == 3  # seed + doc 1 + doc 12

    # full-composition replay: nothing double-lands anywhere
    sink(b1, 1)
    assert sorted(
        r.doc_id for r in spark.read.parquet(paths["out"]).collect()
    ) == [1, 12]
    assert (
        spark.read.parquet(paths["bm25"] + "/postings")
        .select("doc_id")
        .distinct()
        .count()
        == 3
    )
    assert (
        ivf_index_stats(spark, paths["ivf"]).agg(F.sum("n_vectors")).collect()[0][0]
        == 3
    )


def test_prepared_ingest_gate_picks_stat_passes_without_failed_analysis(
    spark, tmp_path, monkeypatch
):
    """The gate picks its stat passes from the column names its rules
    reference: one batch of the default gate and one of a
    min_tokens-only gate raise no AnalysisException along the way, and a
    rule naming an unknown column still raises one naming it."""
    import pyspark.errors.exceptions.captured as captured
    from pyspark.errors import AnalysisException

    from geoscan_fraud_spark.streaming.scoring import prepared_ingest_sink

    failed = []
    convert = captured.convert_exception

    def counting_convert(e):
        out = convert(e)
        # a fresh store's first batch probes the missing index path
        if (
            isinstance(out, AnalysisException)
            and out.getCondition() != "PATH_NOT_FOUND"
        ):
            failed.append(str(out))
        return out

    monkeypatch.setattr(captured, "convert_exception", counting_convert)
    docs = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(12))), (1, "spam " * 12)],
        "doc_id long, text string",
    )
    for name, rules, want in (
        ("default", None, [0]),
        ("min_tokens", {"min_tokens": F.col("n_tokens") >= 3}, [0, 1]),
    ):
        out = tmp_path / f"{name}_out"
        sink = prepared_ingest_sink(
            str(tmp_path / f"{name}_idx"), str(out), quality_rules=rules,
            num_hashes=48, bands=12, threshold=0.5,
        )
        sink(docs, 0)
        kept = spark.read.parquet(str(out / "batch_id=0")).collect()
        assert sorted(r.doc_id for r in kept) == want, name
    assert failed == []

    sink = prepared_ingest_sink(
        str(tmp_path / "bad_idx"), str(tmp_path / "bad_out"),
        quality_rules={"bad": F.col("no_such_stat") > 0},
        num_hashes=48, bands=12, threshold=0.5,
    )
    with pytest.raises(AnalysisException, match="no_such_stat"):
        sink(docs, 0)


def test_prepared_ingest_sink_lm_gate(spark, tmp_path):
    """An offline-trained LM bounds NLL at ingest: gibberish is rejected
    while in-vocabulary docs pass."""
    from geoscan_fraud_spark.operators.text import fit_unigram_lm
    from geoscan_fraud_spark.streaming.scoring import prepared_ingest_sink

    vocab_docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i, i + 40))) for i in range(10)],
        "doc_id long, text string",
    )
    lm, oov = fit_unigram_lm(vocab_docs)

    sink = prepared_ingest_sink(
        str(tmp_path / "l_idx"),
        str(tmp_path / "l_out"),
        num_hashes=48,
        bands=12,
        threshold=0.5,
        lm=lm,
        oov_logp=oov,
        max_nll=-oov - 0.25,
    )
    batch = spark.createDataFrame(
        [
            (100, " ".join(f"w{j}" for j in range(40))),       # in-vocab
            (101, " ".join(f"qx{j}v" for j in range(40))),     # all-OOV
        ],
        "doc_id long, text string",
    )
    sink(batch, 0)
    out = spark.read.parquet(str(tmp_path / "l_out"))
    assert sorted(r.doc_id for r in out.collect()) == [100]


def test_prepared_ingest_sink_classifier_gate(spark, tmp_path):
    """An offline-fitted quality model bounds p_good at ingest."""
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators.quality_model import fit_quality_classifier
    from geoscan_fraud_spark.streaming.scoring import prepared_ingest_sink

    good_rows = [
        (i, " ".join(f"the quick word{j} is here now" for j in range(i % 5 + 6)), 1)
        for i in range(40)
    ]
    bad_rows = [(100 + i, ("spam spam buy " * (8 + i % 5)).strip(), 0) for i in range(40)]
    labeled = spark.createDataFrame(
        good_rows + bad_rows, "doc_id long, text string, label int"
    )
    model = fit_quality_classifier(labeled)

    sink = prepared_ingest_sink(
        str(tmp_path / "q_idx"),
        str(tmp_path / "q_out"),
        num_hashes=48,
        bands=12,
        threshold=0.5,
        quality_model=model,
        min_p_good=0.5,
        quality_rules={"nonempty": F.col("n_tokens") >= 1},
    )
    batch = spark.createDataFrame(
        [
            (500, "the quick words are here now and the text reads fine today"),
            (501, ("spam spam buy " * 10).strip()),
        ],
        "doc_id long, text string",
    )
    sink(batch, 0)
    out = spark.read.parquet(str(tmp_path / "q_out"))
    assert sorted(r.doc_id for r in out.collect()) == [500]


def test_prepared_ingest_sink_decontam_gates(spark, tmp_path):
    """Streaming prepare with BOTH decontamination gates: a doc quoting
    the benchmark drops at the n-gram stage, a paraphrase (no shared
    gram, cosine-close embedding) drops at the semantic stage, clean
    docs survive — and the gates add no cross-batch state (a later
    batch sees the same static benchmark)."""
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.streaming.scoring import prepared_ingest_sink

    bench_text = "the capital of france is paris and the capital of spain is madrid"
    quote = "prefix words " + bench_text + " suffix words " + " ".join(
        f"q{i}" for i in range(40)
    )
    clean = " ".join(f"c{i}" for i in range(60))
    clean2 = " ".join(f"d{i}" for i in range(60))

    benchmark = spark.createDataFrame(
        [(900, bench_text)], "doc_id long, text string"
    )
    bench_emb = spark.createDataFrame(
        [([1.0, 0.0, 0.0, 0.0],)], "emb array<double>"
    )

    sink = prepared_ingest_sink(
        str(tmp_path / "d_idx"),
        str(tmp_path / "d_out"),
        num_hashes=48,
        bands=12,
        threshold=0.5,
        benchmark=benchmark,
        decontam_n=8,
        benchmark_emb=bench_emb,
        emb_col="emb",
        semantic_threshold=0.98,
    )

    b0 = spark.createDataFrame(
        [
            (1, clean, [0.0, 1.0, 0.0, 0.0]),
            (2, quote, [0.0, 0.0, 1.0, 0.0]),        # n-gram contaminated
            (3, clean2, [0.999, 0.02, 0.0, 0.0]),    # embedding paraphrase
        ],
        "doc_id long, text string, emb array<double>",
    )
    sink(b0, 0)
    kept = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "d_out")).collect()
    )
    assert kept == [1]

    # second batch: static benchmarks still apply; fresh clean doc lands
    b1 = spark.createDataFrame(
        [
            (10, " ".join(f"e{i}" for i in range(60)), [0.0, 0.0, 0.0, 1.0]),
            (11, "intro " + bench_text + " outro " + " ".join(f"f{i}" for i in range(40)), [0.5, 0.5, 0.5, 0.5]),
        ],
        "doc_id long, text string, emb array<double>",
    )
    sink(b1, 1)
    kept = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "d_out")).collect()
    )
    assert kept == [1, 10]

    # missing embedding column fails fast, mismatched options fail fast
    import pytest as _pytest

    bad = spark.createDataFrame([(20, clean)], "doc_id long, text string")
    with _pytest.raises(ValueError, match="emb_col"):
        sink(bad, 2)
    with _pytest.raises(ValueError, match="together"):
        prepared_ingest_sink(
            str(tmp_path / "x_idx"), str(tmp_path / "x_out"), benchmark_emb=bench_emb
        )


def test_prepared_ingest_sink_language_gate(spark, tmp_path):
    """The offline-fitted language classifier gates each micro-batch:
    off-target-language docs never reach the store."""
    import random as _random

    from geoscan_fraud_spark.operators.lang_model import fit_lang_classifier
    from geoscan_fraud_spark.streaming.scoring import prepared_ingest_sink

    pools = {
        "en": "the of and to in is was for that with his on as he by at".split(),
        "fr": "le la les de des et un une dans est pour que qui avec sur".split(),
    }
    rnd = _random.Random(3)
    labeled = spark.createDataFrame(
        [
            (i + 100 * li, lang, " ".join(rnd.choice(pool) for _ in range(25)))
            for li, (lang, pool) in enumerate(pools.items())
            for i in range(40)
        ],
        "doc_id long, lang string, text string",
    )
    model = fit_lang_classifier(labeled)

    sink = prepared_ingest_sink(
        str(tmp_path / "l_idx"),
        str(tmp_path / "l_out"),
        num_hashes=48,
        bands=12,
        threshold=0.5,
        lang_model=model,
        allowed_langs=["en"],
    )
    batch = spark.createDataFrame(
        [
            (1, " ".join(rnd.choice(pools["en"]) for _ in range(30))),
            (2, " ".join(rnd.choice(pools["fr"]) for _ in range(30))),
        ],
        "doc_id long, text string",
    )
    sink(batch, 0)
    kept = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "l_out")).collect()
    )
    assert kept == [1]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lang_model"):
        prepared_ingest_sink(
            str(tmp_path / "y_idx"), str(tmp_path / "y_out"), allowed_langs=["en"]
        )
