"""Incremental-store compaction, crash healing, temperature weights."""

import os

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.packing import temperature_weights
from geoscan_fraud_spark.sources.io import compact_index


def test_compact_index_folds_batches_and_keeps_retry_guard(spark, tmp_path):
    store = str(tmp_path / "sigstore")
    rows = spark.range(30).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7).alias("sig")
    )
    for b in range(3):
        rows.filter(F.col("doc_id") % 3 == b).write.mode("overwrite").parquet(
            f"{store}/batch_id={b}"
        )
    before = spark.read.parquet(store)
    assert before.count() == 30
    folded = compact_index(spark, store, target_mb=128)
    assert folded == 2  # batches 0 and 1 fold; the newest (2) stays
    after = spark.read.parquet(store)
    assert after.count() == 30
    assert sorted(
        r["batch_id"] for r in after.select("batch_id").distinct().collect()
    ) == [-1, 2]
    assert os.path.isdir(f"{store}/batch_id=-1")
    # a replay of the newest batch (2) must NOT see its own rows — they
    # were kept out of the base exactly for this
    replay_view = after.filter(F.col("batch_id") < 2)
    assert replay_view.count() == 20
    assert replay_view.filter(F.col("doc_id") % 3 == 2).count() == 0
    # any future batch sees everything
    assert after.filter(F.col("batch_id") < 3).count() == 30
    # a second compaction folds the remaining old batch into the base
    # (2 becomes old once newer batches exist; here keep_last=0 forces it)
    assert compact_index(spark, store, keep_last=0) == 2  # -1 base + batch 2
    final = spark.read.parquet(store)
    assert final.count() == 30
    assert [
        r["batch_id"] for r in final.select("batch_id").distinct().collect()
    ] == [-1]
    # idempotent once fully folded
    assert compact_index(spark, store, keep_last=0) == 0


def test_compact_index_rejects_plain_dirs(spark, tmp_path):
    path = str(tmp_path / "plain")
    spark.range(5).write.parquet(path)
    with pytest.raises(ValueError, match="batch_id"):
        compact_index(spark, path)


def test_temperature_weights_limits():
    sizes = {"web": 900, "code": 90, "books": 10}
    t1 = temperature_weights(sizes, 1.0)
    assert t1["web"] == pytest.approx(0.9)
    assert t1["books"] == pytest.approx(0.01)
    flat = temperature_weights(sizes, 1e9)
    for v in flat.values():
        assert v == pytest.approx(1 / 3, abs=1e-3)
    # T<1 sharpens toward the head
    sharp = temperature_weights(sizes, 0.5)
    assert sharp["web"] > t1["web"]
    with pytest.raises(ValueError):
        temperature_weights(sizes, 0.0)
    assert "empty" not in temperature_weights({"a": 10, "empty": 0}, 1.0)


def test_compact_index_preserves_streaming_dedup(spark, tmp_path):
    """End-to-end with the real sink: compacting the signature store
    between batches must not change dedup decisions — a later batch's
    near-dup of a compacted doc is still dropped."""
    from geoscan_fraud_spark.streaming.scoring import neardup_ingest_sink

    base = " ".join(f"w{i}" for i in range(60))
    other = " ".join(f"y{i}" for i in range(60))
    near = " ".join(w for i, w in enumerate(base.split()) if i % 13 != 5)
    fresh = " ".join(f"z{i}" for i in range(60))

    index_path = str(tmp_path / "c_idx")
    out_path = str(tmp_path / "c_out")
    sink = neardup_ingest_sink(
        index_path, out_path, num_hashes=48, bands=12, threshold=0.5
    )
    sink(spark.createDataFrame([(1, base)], "doc_id long, text string"), 0)
    sink(spark.createDataFrame([(2, other)], "doc_id long, text string"), 1)

    # maintenance window: fold batch 0 into the base (batch 1 stays)
    folded = compact_index(spark, index_path)
    assert folded == 1

    sink(
        spark.createDataFrame(
            [(10, near), (11, fresh)], "doc_id long, text string"
        ),
        2,
    )
    corpus = spark.read.parquet(out_path)
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2, 11]


def _sig_store(spark, tmp_path, name="pubstore", n=30, batches=3):
    store = str(tmp_path / name)
    rows = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7).alias("sig")
    )
    for b in range(batches):
        rows.filter(F.col("doc_id") % batches == b).write.mode(
            "overwrite"
        ).parquet(f"{store}/batch_id={b}")
    return store


def _crash_after_publish(spark, store, folds):
    """Reproduce the exact crash-after-publish state: the folded rows
    are visible in the batch_id=-3 publish dir (manifest included) while
    every folded source dir is STILL in place — the only window the r09
    protocol can leave behind besides unpublished scratch."""
    import json

    df = (
        spark.read.option("basePath", store)
        .option("mergeSchema", "true")
        .parquet(*[f"{store}/batch_id={i}" for i in folds])
    )
    src = (
        F.coalesce(F.col("src_batch"), F.col("batch_id"))
        if "src_batch" in df.columns
        else F.col("batch_id")
    )
    tmp = store + ".__compact__"
    df.withColumn("src_batch", src).drop("batch_id").repartition(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    with open(os.path.join(tmp, "_folded.json"), "w") as f:
        json.dump({"folds": folds}, f)
    os.rename(tmp, f"{store}/batch_id=-3")


def test_compact_publish_protocol_rows_never_missing(spark, tmp_path):
    """At the crash-after-publish point every row is visible (possibly
    twice — the idempotent direction for a dedup store); heal_pending_base
    finishes mechanically and is idempotent; the healed store equals a
    never-crashed compaction."""
    from geoscan_fraud_spark.sources.io import heal_pending_base

    store = _sig_store(spark, tmp_path)
    _crash_after_publish(spark, store, [0, 1])

    # window state: nothing missing — a reader's strictly-earlier filter
    # (batch_id < 2) sees every folded doc despite the crash
    window = spark.read.option("mergeSchema", "true").parquet(store)
    seen = {
        r["doc_id"]
        for r in window.filter(F.col("batch_id") < 2)
        .select("doc_id")
        .collect()
    }
    assert seen == {i for i in range(30) if i % 3 != 2}  # dup-tolerant set

    assert heal_pending_base(store) is True
    assert heal_pending_base(store) is False  # idempotent
    after = spark.read.option("mergeSchema", "true").parquet(store)
    assert after.count() == 30  # duplicates resolved, nothing lost
    assert sorted(
        r["batch_id"] for r in after.select("batch_id").distinct().collect()
    ) == [-1, 2]
    # origins preserved through the healed fold
    base = spark.read.parquet(f"{store}/batch_id=-1")
    assert sorted(
        r["src_batch"] for r in base.select("src_batch").distinct().collect()
    ) == [0, 1]
    # the next compaction runs clean on top
    assert compact_index(spark, store, keep_last=0) == 2


def test_compact_and_expire_heal_pending_state_themselves(spark, tmp_path):
    """Every maintenance entry point self-heals a crashed publish before
    doing its own work; a publish dir without its manifest refuses."""
    from geoscan_fraud_spark.sources.io import expire_index

    store = _sig_store(spark, tmp_path)
    _crash_after_publish(spark, store, [0, 1])
    res = expire_index(spark, store, min_batch_id=1)
    # heal folded batches 0+1 into the base first, THEN expiry aged out
    # the base rows from batch 0 and no whole batch dirs (2 survives)
    assert res["batches_removed"] == 0 and res["base_rows_removed"] == 10
    after = spark.read.option("mergeSchema", "true").parquet(store)
    assert after.count() == 20

    store2 = _sig_store(spark, tmp_path, name="pub2")
    os.makedirs(f"{store2}/batch_id=-3")  # publish dir, no manifest
    with pytest.raises(ValueError, match="_folded.json"):
        compact_index(spark, store2)


def test_store_fsck_clean_and_each_finding_surfaces(spark, tmp_path):
    """The incremental-store ops doctor: a healthy store reports ok;
    pending publish, forget tombstones, crash duplicates, dir pressure,
    and provenance-free base rows each surface; compaction + heal
    return the report to clean."""
    from geoscan_fraud_spark.sources.io import (
        forget_ids,
        heal_pending_base,
        store_fsck,
    )

    store = _sig_store(spark, tmp_path, name="fsck_store")
    rep = store_fsck(spark, store)
    assert rep["status"] == "ok" and rep["findings"] == []
    assert rep["measured"] == {"batch_dirs": 3, "has_base": False, "rows": 30}

    # dir pressure
    rep = store_fsck(spark, store, compact_after=2)
    assert rep["status"] == "attention"
    assert any("compact_index" in f for f in rep["findings"])

    # pending forgets
    forget_ids(spark, store, [0, 3])
    rep = store_fsck(spark, store)
    assert any("forget tombstones" in f for f in rep["findings"])
    assert rep["measured"]["pending_forgets"] == 2

    # crashed publish: pending dir + duplicate rows both surface
    _crash_after_publish(spark, store, [0, 1])
    rep = store_fsck(spark, store)
    text = " ".join(rep["findings"])
    assert "publish dir pending" in text
    assert "duplicate signature rows" in text

    heal_pending_base(store)
    compact_index(spark, store, keep_last=0)
    rep = store_fsck(spark, store)
    assert rep["measured"]["has_base"] is True
    assert not any("duplicate" in f for f in rep["findings"])
    assert not any("publish dir" in f for f in rep["findings"])


def test_store_fsck_span_store_and_legacy_base(spark, tmp_path):
    """Span-store shape: duplicate (gh, origin) keys surface; a base
    without src_batch reports the expire refusal; provenance-free rows
    point at the migration."""
    import json

    from geoscan_fraud_spark.operators.spans import span_gram_index
    from geoscan_fraud_spark.sources.io import store_fsck

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "k l m n o p q r s t")],
        "doc_id long, text string",
    )
    rows = span_gram_index(docs, min_len=5)
    store = str(tmp_path / "span_store")
    rows.write.parquet(f"{store}/batch_id=0")
    rep = store_fsck(spark, store)
    assert rep["status"] == "ok"

    # crash shape: same rows live AND folded with the same origin
    rows.withColumn("src_batch", F.lit(0)).write.parquet(
        f"{store}/batch_id=-1"
    )
    rep = store_fsck(spark, store)
    assert any("duplicate (gh, origin)" in f for f in rep["findings"])

    # provenance-free base rows -> migration hint
    store2 = str(tmp_path / "span2")
    rows.withColumn("src_batch", F.lit(-1)).write.parquet(
        f"{store2}/batch_id=-1"
    )
    rep = store_fsck(spark, store2)
    assert any("migrate_span_store_origins" in f for f in rep["findings"])

    # pre-r07 base without the column -> expire refusal hint
    store3 = str(tmp_path / "span3")
    rows.write.parquet(f"{store3}/batch_id=-1")
    rep = store_fsck(spark, store3)
    assert any("expire_index will refuse" in f for f in rep["findings"])


def test_dedup_span_store_drops_base_when_publish_pending(spark, tmp_path):
    """The one crash shape (gh, origin) dedup cannot cover: provenance-
    free (src_batch=-1) base rows duplicated into the batch_id=-3
    publish dir. The read guard drops the base wholesale when pending
    rows are present — the publish dir is a superset of the folded base
    by construction — so counts never double (review r09)."""
    from geoscan_fraud_spark.operators.spans import (
        dedup_span_store,
        span_gram_index,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "k l m n o p q r s t")],
        "doc_id long, text string",
    )
    rows = span_gram_index(docs, min_len=5)
    store = str(tmp_path / "span_pending")
    # legacy base: provenance-free rows
    rows.withColumn("src_batch", F.lit(-1)).write.parquet(
        f"{store}/batch_id=-1"
    )
    # crashed publish: the SAME rows again, still provenance-free
    rows.withColumn("src_batch", F.lit(-1)).write.parquet(
        f"{store}/batch_id=-3"
    )
    raw = spark.read.option("mergeSchema", "true").parquet(store)
    assert raw.count() == 2 * rows.count()  # duplicates really exist

    got = {
        (r["gh"], r["cnt"])
        for r in dedup_span_store(raw).groupBy("gh")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    want = {(r["gh"], r["cnt"]) for r in rows.select("gh", "cnt").collect()}
    assert got == want  # no 2x over-count despite the crash window

    # without pending rows, a lone base passes through untouched
    import shutil

    shutil.rmtree(f"{store}/batch_id=-3")
    raw = spark.read.parquet(store)
    assert dedup_span_store(raw).count() == rows.count()


def test_store_fsck_null_optional_columns_no_phantom_duplicates(
    spark, tmp_path
):
    """A sink upgraded mid-stream leaves pre-upgrade rows with NULL
    optional columns (the supported optional_index_cols case);
    count(DISTINCT c1..cn) would skip those rows and fabricate
    'duplicate signature rows' — the struct identity must not
    (review r09)."""
    from geoscan_fraud_spark.sources.io import store_fsck

    store = str(tmp_path / "mixed")
    spark.range(10).select(
        F.col("id"), (F.col("id") * 7).alias("sig")
    ).write.parquet(f"{store}/batch_id=0")
    spark.range(10, 20).select(
        F.col("id"),
        (F.col("id") * 7).alias("sig"),
        F.array(F.lit(1), F.lit(2)).alias("bands"),
    ).write.parquet(f"{store}/batch_id=1")

    rep = store_fsck(spark, store)
    assert rep["measured"]["rows"] == 20
    assert not any("duplicate" in f for f in rep["findings"])

