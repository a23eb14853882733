"""Product-quantization ANN (operators/pq.py + the IVF-PQ index tier).

Pins: codebook training determinism, encode exactness invariants,
ADC local-topk tie discipline, and the persisted IVF-PQ lifecycle
(build -> append -> delete -> compact) serving identically through the
PQ and int8 shortlist tiers and equal to brute force at full probe.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.pq import (
    pq_encode,
    pq_reconstruct,
    pq_train_codebooks,
    pq_train_sample,
)
from geoscan_fraud_spark.operators.similarity import (
    brute_force_topk,
    ivf_index_append,
    ivf_index_compact,
    ivf_index_query,
    ivf_index_write,
    ivf_recall_at_k,
)
from geoscan_fraud_spark.sources.io import index_delete


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _rows(df):
    return [tuple(r) for r in df.orderBy("query_id", "rank").collect()]


# ---------------------------------------------------------------------------
# training + encoding
# ---------------------------------------------------------------------------


def test_train_deterministic_and_validated():
    rng = np.random.RandomState(7)
    X = rng.randn(200, 16)
    a = pq_train_codebooks(X, m=4, k=8)
    b = pq_train_codebooks(X, m=4, k=8)
    assert a == b  # bit-identical retrain (crash-replay byte-stability)
    C = np.asarray(a)
    assert C.shape == (4, 8, 4)
    with pytest.raises(ValueError, match="divisible"):
        pq_train_codebooks(X, m=5, k=8)
    with pytest.raises(ValueError, match=r"\[1, 256\]"):
        pq_train_codebooks(X, m=4, k=300)
    with pytest.raises(ValueError, match="sample has"):
        pq_train_codebooks(X[:4], m=4, k=8)


def test_encode_invariants(spark, emb):
    cbs = pq_train_sample(emb, m=8, k=16, train_rows=200)
    enc = pq_encode(emb.limit(100), cbs).orderBy("vec_id").toPandas()
    assert list(enc.columns) == ["vec_id", "vnorm", "codes"]
    codes = np.stack([np.asarray(c, np.int64) for c in enc["codes"]])
    assert codes.shape[1] == 8
    assert codes.min() >= -128 and codes.max() <= 127
    # vnorm is the EXACT original norm (the ADC denominator is error-free)
    orig = (
        emb.limit(100).orderBy("vec_id").select("embedding").toPandas()
    )
    X = np.stack([np.asarray(v, np.float64) for v in orig["embedding"]])
    assert np.allclose(enc["vnorm"].to_numpy(), np.sqrt((X * X).sum(axis=1)))
    # reconstruction is a real approximation, not garbage: mean cosine
    # of decoded vs original comfortably positive on this corpus
    R = pq_reconstruct(codes, cbs)
    cos = (R * X).sum(1) / (
        np.linalg.norm(R, axis=1) * np.linalg.norm(X, axis=1)
    )
    assert cos.mean() > 0.6
    # dim mismatch fails loudly in the encoder
    bad = pq_encode(
        emb.limit(5).withColumn("embedding", F.slice("embedding", 1, 32)), cbs
    )
    with pytest.raises(Exception, match="64-dim"):
        bad.collect()


# ---------------------------------------------------------------------------
# persisted IVF-PQ
# ---------------------------------------------------------------------------


def test_adc_tie_break_is_vec_id_asc(spark):
    # 30 IDENTICAL vectors -> every sim ties exactly; the contract
    # (sim desc, vec_id asc) must survive the per-batch local top-k and
    # the global merge, so top-k = the k smallest non-self ids
    rows = [(i, [1.0, 2.0] * 8) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = tempfile.mkdtemp(prefix="pq_ties_") + "/idx"
    ivf_index_write(df, path, n_centroids=2, pq_m=8, pq_k=4, pq_train_rows=30)
    q = df.filter(F.col("vec_id") == 29)
    got = ivf_index_query(q, path, k=5, nprobe=2, rerank=2, shortlist="pq")
    assert [r["vec_id"] for r in got.orderBy("rank").collect()] == [0, 1, 2, 3, 4]


def test_pq_index_lifecycle_serves_identically(spark, emb):
    path = tempfile.mkdtemp(prefix="pq_idx_") + "/idx"
    ivf_index_write(
        emb.filter(F.col("vec_id") % 2 == 0), path,
        n_centroids=4, pq_m=8, pq_k=16, pq_train_rows=250,
    )
    ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), path)
    index_delete(
        spark, path, emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    )
    q = emb.filter(F.col("vec_id") < 3)

    def serve(tier):
        return ivf_index_query(
            q, path, k=5, nprobe=4, rerank=100, rerank_corpus=emb,
            shortlist=tier,
        )

    pre = _rows(serve("pq"))
    assert pre == _rows(serve("auto"))  # auto resolves to the PQ tier
    ivf_index_compact(spark, path)
    post = _rows(serve("pq"))
    # compaction is invisible: codes/vnorm/codebooks survive the relayout
    assert pre == post
    # both tiers, full probe + full shortlist -> the same exact top-k,
    # which equals brute force over the tombstone-surviving corpus
    assert post == _rows(serve("int8"))
    survivors = emb.filter(F.col("vec_id") % 7 != 3)
    assert post == _rows(brute_force_topk(q, survivors, k=5))
    # the serving-quality probe runs through the auto(=PQ) tier
    assert ivf_recall_at_k(
        q, path, survivors, k=5, nprobe=4, rerank_corpus=emb, rerank=100
    ) == 1.0


def test_pq_shortlist_on_plain_index_refused(spark, emb):
    path = tempfile.mkdtemp(prefix="plain_idx_") + "/idx"
    ivf_index_write(emb.limit(100), path, n_centroids=2)
    q = emb.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="pq_m"):
        ivf_index_query(q, path, k=3, shortlist="pq")
    with pytest.raises(ValueError, match="shortlist must be"):
        ivf_index_query(q, path, k=3, shortlist="adc")
    # and auto on a plain index is exactly the int8 tier
    assert _rows(ivf_index_query(q, path, k=3, nprobe=2, rerank=100)) == _rows(
        ivf_index_query(q, path, k=3, nprobe=2, rerank=100, shortlist="int8")
    )


def test_rebuild_keeps_pq_tier(spark, emb):
    """A drift-scheduled rebuild must not silently drop the compressed
    tier: codebooks retrain at the same (m, k) on the index's own
    surviving contents, and the rebuilt index still serves through ADC."""
    from geoscan_fraud_spark.operators.similarity import ivf_index_rebuild
    from geoscan_fraud_spark.sources.io import read_index_meta

    path = tempfile.mkdtemp(prefix="pq_rebuild_") + "/idx"
    ivf_index_write(
        emb.filter(F.col("vec_id") < 300), path,
        n_centroids=4, pq_m=8, pq_k=16, pq_train_rows=250,
    )
    index_delete(
        spark, path, emb.filter(F.col("vec_id") % 11 == 0).select("vec_id")
    )
    ivf_index_rebuild(spark, path, n_centroids=4)
    meta = read_index_meta(path + "/centroids.json")
    assert meta.get("pq") and meta["pq"]["m"] == 8 and meta["pq"]["k"] == 16
    q = emb.filter(F.col("vec_id") < 3)
    got = _rows(
        ivf_index_query(q, path, k=5, nprobe=4, rerank=300, shortlist="pq")
    )
    # rebuild applied the tombstones physically and re-encoded: full
    # probe + full shortlist + dequantized re-rank matches the int8 tier
    assert got == _rows(
        ivf_index_query(q, path, k=5, nprobe=4, rerank=300, shortlist="int8")
    )
    survivors = emb.filter(
        (F.col("vec_id") < 300) & (F.col("vec_id") % 11 != 0)
    )
    assert {r[1] for r in got}.issubset(
        {r["vec_id"] for r in survivors.select("vec_id").collect()}
    )


def _clustered(spark, seed=3, n_clusters=8, per=60, dim=32):
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim) * 5.0
    rows, i = [], 0
    for c in range(n_clusters):
        for _ in range(per):
            rows.append(
                (i, [float(x) for x in centers[c] + rng.randn(dim) * 0.7])
            )
            i += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_residual_beats_plain_on_clustered_data(spark):
    """Residual encoding spends the codewords on the within-list spread;
    with deliberately starved codebooks (k=8) on clustered data its
    shortlist recall must be at least the plain encoding's (measured,
    deterministic pipeline: fixed seeds, Lloyd + seeded KMeans)."""
    df = _clustered(spark)
    q = df.filter(F.col("vec_id") % 60 == 7)
    exact = brute_force_topk(q, df, k=10).select("query_id", "vec_id")
    ex_n = exact.count()

    def recall(residual):
        path = tempfile.mkdtemp(prefix="res_cmp_") + "/idx"
        ivf_index_write(
            df, path, n_centroids=8, pq_m=8, pq_k=8,
            pq_train_rows=480, pq_residual=residual,
        )
        got = ivf_index_query(
            q, path, k=10, nprobe=8, rerank=2, shortlist="pq"
        ).select("query_id", "vec_id")
        return exact.join(got, ["query_id", "vec_id"], "left_semi").count() / ex_n

    r_plain, r_res = recall(False), recall(True)
    assert r_res >= r_plain, (r_plain, r_res)
    assert r_res >= 0.35, r_res


def test_residual_index_lifecycle(spark, emb):
    """The residual tier rides the full lifecycle: append encodes
    residuals against the frozen centroids+codebooks, compaction carries
    the columns, rebuild retrains WITH the residual flag, and full
    probe + full shortlist + exact re-rank still equals brute force."""
    from geoscan_fraud_spark.operators.similarity import ivf_index_rebuild
    from geoscan_fraud_spark.sources.io import read_index_meta

    path = tempfile.mkdtemp(prefix="pq_res_idx_") + "/idx"
    ivf_index_write(
        emb.filter(F.col("vec_id") % 2 == 0), path,
        n_centroids=4, pq_m=8, pq_k=16, pq_train_rows=250, pq_residual=True,
    )
    ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), path)
    index_delete(
        spark, path, emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    )
    q = emb.filter(F.col("vec_id") < 3)

    def serve():
        return _rows(
            ivf_index_query(
                q, path, k=5, nprobe=4, rerank=100, rerank_corpus=emb,
                shortlist="pq",
            )
        )

    pre = serve()
    ivf_index_compact(spark, path)
    assert serve() == pre
    survivors = emb.filter(F.col("vec_id") % 7 != 3)
    assert pre == _rows(brute_force_topk(q, survivors, k=5))
    ivf_index_rebuild(spark, path, n_centroids=4)
    meta = read_index_meta(path + "/centroids.json")
    assert meta["pq"].get("residual") is True
    assert serve() == _rows(brute_force_topk(q, survivors, k=5))


def test_fsck_checks_pq_tier(spark, emb):
    """The doctor knows the new columns: clean pq index reports ok; a
    metadata pq block without the columns (or with a wrong m) is a
    finding, not a silent serve-time crash."""
    import json

    from geoscan_fraud_spark.sources.io import (
        atomic_write_json,
        index_fsck,
        read_index_meta,
    )

    path = tempfile.mkdtemp(prefix="pq_fsck_") + "/idx"
    ivf_index_write(
        emb.limit(200), path, n_centroids=2, pq_m=8, pq_k=16,
        pq_train_rows=200,
    )
    assert index_fsck(spark, path)["findings"] == []
    # wrong advertised width -> every row flagged
    meta = read_index_meta(path + "/centroids.json")
    meta["pq"]["m"] = 5
    atomic_write_json(path + "/centroids.json", meta)
    bad = index_fsck(spark, path)["findings"]
    assert any("wrong-width codes" in f for f in bad), bad
    # pq block on an index whose lists never had the columns
    plain = tempfile.mkdtemp(prefix="pq_fsck2_") + "/idx"
    ivf_index_write(emb.limit(100), plain, n_centroids=2)
    meta = read_index_meta(plain + "/centroids.json")
    meta["pq"] = {"m": 8, "k": 16, "codebooks": [[[0.0] * 8] * 16] * 8}
    atomic_write_json(plain + "/centroids.json", meta)
    bad = index_fsck(spark, plain)["findings"]
    assert any("lack codes/vnorm" in f for f in bad), bad


def test_fsck_null_vnorm_is_pq_corruption_only(spark, emb):
    """A PQ row with a NULL vnorm is corruption the PQ-tier check names
    — and nothing else: counting distinct rows column by column skips
    a row holding a NULL, which misreported it as a duplicate row and
    as row-counter drift."""
    import glob
    import shutil

    from geoscan_fraud_spark.sources.io import index_fsck

    path = tempfile.mkdtemp(prefix="pq_nullnorm_") + "/idx"
    ivf_index_write(
        emb.limit(200), path, n_centroids=2, pq_m=8, pq_k=16,
        pq_train_rows=200,
    )
    assert index_fsck(spark, path)["findings"] == []
    # plant: one list's file rewritten with a NULL vnorm on one row
    d = sorted(glob.glob(path + "/lists/list_id=*"))[0]
    rows = spark.read.parquet(d)
    victim = rows.agg(F.min("vec_id")).first()[0]
    tmp = tempfile.mkdtemp(prefix="pq_nullnorm_file_") + "/out"
    rows.withColumn(
        "vnorm",
        F.when(F.col("vec_id") == victim, F.lit(None)).otherwise(
            F.col("vnorm")
        ),
    ).coalesce(1).write.parquet(tmp)
    for f in glob.glob(d + "/*.parquet"):
        os.remove(f)
    (planted,) = glob.glob(tmp + "/*.parquet")
    shutil.move(planted, d)

    findings = index_fsck(spark, path)["findings"]
    assert any("1 rows with null vnorm" in f for f in findings), findings
    assert not any("duplicate" in f or "drift" in f for f in findings), findings


def test_streaming_ingest_into_pq_index(spark, emb):
    """`ann_index_ingest_sink` composed with a pq-built index: appends
    encode codes meta-driven, replays are skipped, and the ADC tier
    serves the streamed rows."""
    from geoscan_fraud_spark.streaming.scoring import ann_index_ingest_sink

    path = tempfile.mkdtemp(prefix="pq_stream_") + "/idx"
    ivf_index_write(
        emb.filter(F.col("vec_id") < 250), path,
        n_centroids=4, pq_m=8, pq_k=16, pq_train_rows=250,
    )
    sink = ann_index_ingest_sink(path)
    batch = emb.filter(F.col("vec_id") >= 250)
    sink(batch, 1)
    sink(batch, 1)  # replay: must be skipped, not double-encoded
    q = emb.filter(F.col("vec_id") < 3)
    got = _rows(
        ivf_index_query(
            q, path, k=5, nprobe=4, rerank=100, rerank_corpus=emb,
            shortlist="pq",
        )
    )
    assert got == _rows(brute_force_topk(q, emb, k=5))


def test_pq_scan_prunes_columns_and_partitions(spark, emb):
    """The structural form of the IO claim: with an external re-rank
    corpus, the ONLY scan of the index lists is the ADC shortlist scan,
    its ReadSchema carries codes/vnorm but NOT the int8 vectors, and the
    probe set is pushed as static PartitionFilters."""
    import re

    from geoscan_fraud_spark.plans.audit import formatted_plan

    path = tempfile.mkdtemp(prefix="pq_plan_") + "/idx"
    ivf_index_write(
        emb.limit(300), path, n_centroids=4, pq_m=8, pq_k=16,
        pq_train_rows=250,
    )
    q = emb.filter(F.col("vec_id") < 3)
    plan = formatted_plan(
        ivf_index_query(
            q, path, k=5, nprobe=2, rerank=4, rerank_corpus=emb,
            shortlist="pq",
        )
    )
    scans = [
        s for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        if "codes" in s or "qvec" in s
    ]
    assert scans, plan  # the lists scan exists
    for s in scans:
        assert "codes" in s and "vnorm" in s and "qvec" not in s, s
    assert re.search(r"PartitionFilters: \[[^\]]*list_id[^\]]*IN", plan), plan


def test_adc_identity_property():
    """ADC's table-sum is EXACTLY dot(q, reconstruct(codes)) up to
    float64 summation order — the algebraic identity the whole scorer
    rests on, fuzzed over random shapes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 4).map(lambda m: m * 2),       # m in {2,4,6,8}
        st.integers(2, 3),                            # dsub
        st.integers(2, 8),                            # k
        st.integers(0, 2**32 - 1),
    )
    def run(m, dsub, k, seed):
        rng = np.random.RandomState(seed)
        dim = m * dsub
        X = rng.randn(max(k, 20), dim)
        cbs = pq_train_codebooks(X, m=m, k=k)
        C = np.asarray(cbs)
        q = rng.randn(dim)
        # encode one batch the way the executor does
        cn2 = (C * C).sum(axis=2)
        Xs = X.reshape(len(X), m, dsub)
        codes = np.stack(
            [
                (cn2[j][None, :] - 2.0 * (Xs[:, j, :] @ C[j].T)).argmin(axis=1)
                for j in range(m)
            ],
            axis=1,
        )
        table = np.einsum("md,mkd->mk", q.reshape(m, dsub), C)
        adot = table[np.arange(m)[None, :], codes].sum(axis=1)
        recon = np.concatenate([C[j][codes[:, j]] for j in range(m)], axis=1)
        assert np.allclose(adot, recon @ q, atol=1e-8)

    run()


def test_empty_corpus_train_refused(spark, emb):
    with pytest.raises(ValueError, match="zero rows"):
        pq_train_sample(emb.filter(F.lit(False)), m=8, k=4)


def test_expire_keeps_pq_tier(spark, emb):
    """Retention on a pq index: expiry relays out the lists generically,
    so codes/vnorm survive and the ADC tier serves exactly the
    build + surviving-batch corpus."""
    from geoscan_fraud_spark.sources.io import index_expire

    path = tempfile.mkdtemp(prefix="pq_expire_") + "/idx"
    ivf_index_write(
        emb.filter(F.col("vec_id") < 200), path,
        n_centroids=4, pq_m=8, pq_k=16, pq_train_rows=200, pq_residual=True,
    )
    ivf_index_append(
        emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 350)),
        path, src_batch=1,
    )
    ivf_index_append(emb.filter(F.col("vec_id") >= 350), path, src_batch=2)
    index_expire(spark, path, min_src_batch=2)
    q = emb.filter(F.col("vec_id") < 3)
    got = _rows(
        ivf_index_query(
            q, path, k=5, nprobe=4, rerank=500, rerank_corpus=emb,
            shortlist="pq",
        )
    )
    survivors = emb.filter(
        (F.col("vec_id") < 200) | (F.col("vec_id") >= 350)
    )
    assert got == _rows(brute_force_topk(q, survivors, k=5))
