"""Round-7 fixes: lazy LM gate in prepare_training_corpus (VERDICT #6),
__sig_text reserved-name collision (ADVICE), compact_index crash-window
ordering + leftover refusal (ADVICE), Arrow-collect union-find parity.
"""
import math
import os

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.sources.io import compact_index, load_fixture
from geoscan_fraud_spark.operators.text import fit_unigram_lm, perplexity_score


def test_fit_unigram_lm_lazy_matches_eager(spark):
    train = spark.createDataFrame(
        [(0, "a a b"), (1, "b c"), (2, "a d d")], ["doc_id", "text"]
    )
    lm_e, oov_e = fit_unigram_lm(train, alpha=0.5)
    lm_l, oov_l = fit_unigram_lm(train, alpha=0.5, lazy=True)
    eager = {r["t"]: r["logp"] for r in lm_e.collect()}
    lazy = {r["t"]: r["logp"] for r in lm_l.collect()}
    assert set(eager) == set(lazy)
    for t in eager:
        assert lazy[t] == pytest.approx(eager[t])
    assert oov_l.first()["oov_logp"] == pytest.approx(oov_e)

    score = spark.createDataFrame(
        [(10, "a b"), (11, "zz zz"), (12, "")], ["doc_id", "text"]
    )
    se = {r["doc_id"]: r.asDict() for r in perplexity_score(score, lm_e, oov_e).collect()}
    sl = {r["doc_id"]: r.asDict() for r in perplexity_score(score, lm_l, oov_l).collect()}
    for k in se:
        assert sl[k]["n_tokens"] == se[k]["n_tokens"]
        if se[k]["nll"] is None:
            assert sl[k]["nll"] is None
        else:
            assert sl[k]["nll"] == pytest.approx(se[k]["nll"], abs=1e-6)


def test_lazy_lm_fit_and_score_build_with_zero_jobs(spark, sf_dir):
    """fit_unigram_lm(lazy=True) + perplexity_score must not trigger any
    Spark job until acted on (VERDICT r06 #6)."""
    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    lm, oov = fit_unigram_lm(docs, lazy=True)
    scored = perplexity_score(docs, lm, oov)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # fit + score plan build triggered no job
    assert scored.count() > 0  # and it actually computes


def test_pipeline_lm_gate_uses_lazy_fit(spark, sf_dir, monkeypatch):
    """The pipeline must fit its LM in lazy mode (no job at build —
    pinned standalone above) and the gate must still reject planted
    gibberish when materialized."""
    from geoscan_fraud_spark.operators import pipelines

    calls: list[dict] = []
    real_fit = pipelines.fit_unigram_lm

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return real_fit(*args, **kwargs)

    monkeypatch.setattr(pipelines, "fit_unigram_lm", spy)

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    gibberish = spark.createDataFrame(
        [(900_777, " ".join(f"zq{i}xv" for i in range(40)))],
        "doc_id long, text string",
    )
    corpus_in = docs.unionByName(gibberish)
    _, oov = fit_unigram_lm(docs)  # eager, for the bound only

    out = pipelines.prepare_training_corpus(
        corpus_in, dedup_threshold=0.5, lm_reference=docs, max_nll=-oov - 0.25
    )
    assert calls and all(c.get("lazy") for c in calls)

    kept = {r.doc_id for r in out["corpus"].select("doc_id").collect()}
    assert 900_777 not in kept
    reason = (
        out["annotated"].filter(F.col("doc_id") == 900_777).first()["reject_reason"]
    )
    assert reason == "lm_nll"


def test_pipeline_sig_text_collision_raises(spark):
    from geoscan_fraud_spark.operators.pipelines import prepare_training_corpus

    docs = spark.createDataFrame(
        [(0, "hello world", "x")], ["doc_id", "text", "__sig_text"]
    )
    with pytest.raises(ValueError, match="__sig_text"):
        prepare_training_corpus(docs, normalize_signatures=True)
    bench = spark.createDataFrame(
        [(0, "bench text", "x")], ["doc_id", "text", "__sig_text"]
    )
    clean = docs.drop("__sig_text")
    with pytest.raises(ValueError, match="benchmark"):
        prepare_training_corpus(
            clean, benchmark=bench, normalize_signatures=True
        )


def test_compact_index_refuses_leftover_swap_dirs(spark, tmp_path):
    """A legacy pre-r09 `__old__` leftover may hold the only copy of the
    base and still demands manual recovery (refused); a lone
    `__compact__` is unpublished scratch and is auto-cleaned (r09)."""
    store = str(tmp_path / "sigstore")
    rows = spark.range(20).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7).alias("sig")
    )
    for b in range(3):
        rows.filter(F.col("doc_id") % 3 == b).write.mode("overwrite").parquet(
            f"{store}/batch_id={b}"
        )
    os.makedirs(store + ".__old__")
    with pytest.raises(ValueError, match="crashed mid-swap"):
        compact_index(spark, store)
    os.rmdir(store + ".__old__")
    os.makedirs(store + ".__compact__")
    assert compact_index(spark, store) == 2  # scratch auto-cleaned, runs
    assert not os.path.exists(store + ".__compact__")


def test_lang_id_detects_non_latin_scripts(spark):
    """Real unsegmented CJK / Cyrillic / Arabic snippets must classify by
    script share (VERDICT r06 'What's wrong' #2 — the old pinyin zh
    profile could never fire on real Chinese text)."""
    from geoscan_fraud_spark.operators.text import lang_id

    rows = [
        (1, "机器学习是人工智能的一个分支，它使计算机能够从数据中学习。"),
        (2, "Машинное обучение является разделом искусственного интеллекта."),
        (3, "التعلم الآلي هو فرع من فروع الذكاء الاصطناعي في علوم الحاسوب."),
        (4, "the cat sat on the mat and it was happy"),
        (5, "el perro corre por la calle y se va a casa"),
        (6, "機械学習はデータから学ぶことができます。これはとても便利です。"),
        (7, "머신러닝은 인공지능의 한 분야입니다 컴퓨터가 데이터에서 학습합니다"),
        (8, ""),
    ]
    out = {
        r["doc_id"]: r["lang_pred"]
        for r in lang_id(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1] == "zh"
    assert out[2] == "ru"
    assert out[3] == "ar"
    assert out[4] == "en"
    assert out[5] == "es"
    assert out[6] == "ja"  # kana majority separates ja from zh
    assert out[7] == "ko"
    assert out[8] == "und"


def test_prebanded_index_matches_recomputed_banding(spark, sf_dir):
    """An index stored with minhash_index(bands=...) must dedup a batch
    IDENTICALLY to the same index without stored bands (VERDICT r06 #2),
    and the stored band hashes must equal the recomputed ones."""
    from geoscan_fraud_spark.operators import incremental as inc

    docs = (
        load_fixture(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(300)
    )
    words = F.split(F.col("text"), r"\s+")
    batch = docs.limit(60).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.filter(words, lambda w, i: (i % 13) != 5)).alias(
            "text"
        ),
    )
    plain = inc.minhash_index(docs, num_hashes=48, sig_hash="md5")
    banded = inc.minhash_index(docs, num_hashes=48, sig_hash="md5", bands=12)

    # stored band hashes == recomputed banding, row for row
    stored = {
        (r["id"], r["band"]): r["bh"]
        for r in inc._banded_sig(banded, 48, 12, "md5").collect()
    }
    recomputed = {
        (r["id"], r["band"]): r["bh"]
        for r in inc._banded_sig(plain, 48, 12, "md5").collect()
    }
    assert stored == recomputed and len(stored) > 0

    kept_plain = sorted(
        r["doc_id"]
        for r in inc.dedup_against_index(
            batch, plain, num_hashes=48, bands=12, threshold=0.5, sig_hash="md5"
        ).collect()
    )
    kept_banded = sorted(
        r["doc_id"]
        for r in inc.dedup_against_index(
            batch, banded, num_hashes=48, bands=12, threshold=0.5, sig_hash="md5"
        ).collect()
    )
    assert kept_plain == kept_banded

    # width mismatch fail-fasts instead of silently missing candidates
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="band count|band"):
        inc.dedup_against_index(
            batch, banded, num_hashes=48, bands=16, threshold=0.5,
            sig_hash="md5",
        ).count()


def test_neardup_sink_writes_and_reads_prebanded_store(spark, tmp_path):
    """The streaming sink stores the bands column and keeps reading v1
    stores that lack it."""
    from geoscan_fraud_spark.streaming.scoring import neardup_ingest_sink
    from geoscan_fraud_spark.operators.incremental import minhash_index

    index_path = str(tmp_path / "idx")
    out_path = str(tmp_path / "out")
    base = " ".join(f"w{i}" for i in range(60))
    fresh = " ".join(f"z{i}" for i in range(60))
    sink = neardup_ingest_sink(
        index_path, out_path, num_hashes=48, bands=12, threshold=0.5
    )

    # seed a v1 (sig-only) store as batch 0 — upgraded sinks must not
    # treat the missing column as an empty bootstrap
    b0 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    minhash_index(b0, num_hashes=48).write.mode("overwrite").parquet(
        f"{index_path}/batch_id=0"
    )
    b0.write.mode("overwrite").parquet(f"{out_path}/batch_id=0")

    b1 = spark.createDataFrame(
        [(10, base), (12, fresh)], "doc_id long, text string"
    )
    sink(b1, 1)
    kept = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert kept == [1, 12]  # 10 deduped against the v1 store
    idx1 = spark.read.parquet(f"{index_path}/batch_id=1")
    assert "bands" in idx1.columns  # new appends carry the pre-banded form
    assert idx1.select(F.size("bands")).first()[0] == 12


def test_semantic_pairs_multiprobe_finds_boundary_pair(spark):
    """A near-dup pair straddling a cluster boundary is missed at
    nprobe=1 (the published SemDeDup behavior) and found at nprobe=2
    (VERDICT r06 #5)."""
    from geoscan_fraud_spark.operators.similarity import semantic_pairs

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    # v1 leans to centroid 2, v2 to centroid 1; cosine(v1,v2) ~ 0.9998
    rows = [
        (1, [1.0, 1.02, 0.0, 0.0]),
        (2, [1.02, 1.0, 0.0, 0.0]),
        (3, [0.95, 0.0, 0.1, 0.0]),   # core of cluster 1
        (4, [0.0, 0.97, 0.0, 0.1]),   # core of cluster 2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p1 = semantic_pairs(df, threshold=0.95, centroids=cents, nprobe=1).collect()
    assert all({r["id_a"], r["id_b"]} != {1, 2} for r in p1)
    rows2 = semantic_pairs(
        df, threshold=0.95, centroids=cents, nprobe=2
    ).collect()
    p2 = {(r["id_a"], r["id_b"]) for r in rows2}
    assert (1, 2) in p2
    # multi-probe emits each found pair exactly once
    assert len(rows2) == len(p2)


def test_semantic_dedup_multiprobe_mllib_path(spark):
    """nprobe=2 with the MLlib quantizer (no fixed centroids): the
    boundary copy collapses; distinct vectors survive."""
    from geoscan_fraud_spark.operators.similarity import semantic_dedup

    import numpy as np

    rng = np.random.RandomState(11)
    base = [
        (i, [float(x) for x in rng.randn(8)]) for i in range(40)
    ]
    near = [(100, [x * 1.000001 for x in base[0][1]])]
    df = spark.createDataFrame(
        base + near, "vec_id long, embedding array<double>"
    )
    kept = {
        r["vec_id"]
        for r in semantic_dedup(
            df, threshold=0.98, n_clusters=4, nprobe=2
        ).collect()
    }
    assert 100 not in kept and 0 in kept
    assert len(kept) == 40


def test_expire_index_ages_out_old_signatures(spark, tmp_path):
    """Retention (VERDICT r06 #9): expired signatures stop matching at
    ingest, surviving ones still match, and the replay guard holds."""
    from geoscan_fraud_spark.operators.incremental import (
        dedup_against_index,
        minhash_index,
    )
    from geoscan_fraud_spark.sources.io import expire_index

    store = str(tmp_path / "sigstore")
    old_text = " ".join(f"old{i}" for i in range(40))
    new_text = " ".join(f"new{i}" for i in range(40))
    for b, (doc_id, text) in enumerate([(1, old_text), (2, new_text)]):
        df = spark.createDataFrame([(doc_id, text)], "doc_id long, text string")
        minhash_index(df, num_hashes=48, bands=12).write.mode(
            "overwrite"
        ).parquet(f"{store}/batch_id={b}")

    # compact batch 0 into the base (keep_last=1), then expire below 1
    assert compact_index(spark, store) == 1
    res = expire_index(spark, store, min_batch_id=1)
    assert res == {"batches_removed": 0, "base_rows_removed": 1}

    idx = spark.read.parquet(store).drop("batch_id", "src_batch")
    batch = spark.createDataFrame(
        [(10, old_text), (11, new_text)], "doc_id long, text string"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_against_index(
            batch, idx, num_hashes=48, bands=12, threshold=0.9
        ).collect()
    )
    # the expired old_text signature no longer matches; new_text still does
    assert kept == [10]

    # whole-partition expiry: add two more batches, expire below 2
    for b, (doc_id, text) in enumerate([(3, "x " * 30), (4, "y " * 30)], start=2):
        df = spark.createDataFrame([(doc_id, text)], "doc_id long, text string")
        minhash_index(df, num_hashes=48, bands=12).write.mode(
            "overwrite"
        ).parquet(f"{store}/batch_id={b}")
    res2 = expire_index(spark, store, min_batch_id=2)
    assert res2["batches_removed"] == 1  # batch 1 deleted outright
    left = sorted(
        int(d.split("=")[1])
        for d in __import__("os").listdir(store)
        if d.startswith("batch_id=")
    )
    assert left == [-1, 2, 3]  # base stays (already min-filtered), 2/3 live
    # replay guard shape intact: a replayed batch 3 still excludes itself
    replay = spark.read.parquet(store).filter(F.col("batch_id") < 3)
    assert 4 not in {r["id"] for r in replay.collect()}


def test_expire_index_rejects_legacy_base(spark, tmp_path):
    store = str(tmp_path / "legacy")
    rows = spark.range(10).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("sig")
    )
    rows.write.parquet(f"{store}/batch_id=-1")  # base without src_batch
    rows.write.parquet(f"{store}/batch_id=5")
    from geoscan_fraud_spark.sources.io import expire_index

    with pytest.raises(ValueError, match="src_batch"):
        expire_index(spark, store, min_batch_id=3)


def test_union_find_arrow_path_parity(spark):
    """The Arrow/numpy small-graph path must produce the identical
    min-label result as the distributed iteration."""
    from geoscan_fraud_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (3, 1), (11, 12), (12, 10)],
        ["src", "dst"],
    )
    small = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    big = {
        (r["id"], r["component"])
        for r in connected_components(edges, small_graph_threshold=0).collect()
    }
    assert small == big
    assert small == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (20, 20)
    }
