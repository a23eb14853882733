"""Round-11 fixes.

VERDICT r10 #1: the streaming dedup gate's index side is left-semi
pruned to batch-touched buckets before the hot-bucket window and the
candidate join — these tests pin that the prune is OUTPUT-IDENTICAL to
the unpruned r10 plan (whole touched buckets retained, so `__bsz`/
`__hub`, the star split, and every candidate pair are unchanged), for
both the MinHash and embedding gates, with and without the star guard.

VERDICT r10 #3 / ADVICE r10: PQ training defaults to the
hash-stratified sample (id-order bias killed), persists its sampling
parameters in the pq metadata block, and a rebuild reuses them.

ADVICE r10: empty-corpus residual PQ training raises the friendly
zero-rows error; the default (no rerank_corpus) exact re-rank scan is
bounded to the shortlist ids instead of all probed rows.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _gate_fixture(spark, planted_hot=False):
    """(batch, index_df) with cross-batch near-dups, batch-internal
    near-dups, and (optionally) a hot index family larger than the cap."""
    from geoscan_fraud_spark.operators.incremental import minhash_index

    filler = " ".join(f"w{j}" for j in range(20))
    base = [
        (i, f"alpha beta gamma {filler} token{i} eta theta")
        for i in range(40)
    ]
    if planted_hot:
        # 30 signature-identical docs — one oversized band bucket
        base += [(100 + i, "hot hot hot family page boiler plate") for i in range(30)]
    corpus = spark.createDataFrame(base, "doc_id long, text string")
    idx = minhash_index(
        corpus, num_hashes=48, sig_hash="xxhash64", bands=12
    ).localCheckpoint(eager=True)
    words = F.split(F.col("text"), r"\s+")
    mutated = corpus.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.filter(words, lambda w, i: (i % 13) != 5)).alias(
            "text"
        ),
    )
    fresh = spark.createDataFrame(
        [(5000 + i, f"unique fresh words only row{i} qq{i} zz{i}") for i in range(10)]
        + [(6000, "pair one same same same text here")]
        + [(6001, "pair one same same same text here")],
        "doc_id long, text string",
    )
    return mutated.unionByName(fresh), idx


@pytest.mark.parametrize("max_bucket", [256, 8, None])
def test_gate_prune_bit_identical_minhash(spark, max_bucket):
    from geoscan_fraud_spark.operators.incremental import dedup_against_index

    batch, idx = _gate_fixture(spark, planted_hot=True)
    kw = dict(num_hashes=48, bands=12, threshold=0.5, max_bucket=max_bucket)
    pruned = dedup_against_index(batch, idx, **kw)
    unpruned = dedup_against_index(batch, idx, prune_index=False, **kw)
    assert _rows(pruned, "doc_id") == _rows(unpruned, "doc_id")


def test_gate_prune_bit_identical_embedding(spark):
    from geoscan_fraud_spark.operators.incremental import (
        embedding_dedup_against_index,
        embedding_index,
    )

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(60)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    idx = embedding_index(corpus, dim=16, planes=8).localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        # near-copies of indexed rows + fresh rows
        [(1000 + i, [v * 1.0000001 for v in vec]) for i, vec in vecs[:20]]
        + [
            (2000 + i, [float(x) for x in rng.normal(size=16)])
            for i in range(15)
        ],
        "vec_id long, embedding array<double>",
    )
    kw = dict(dim=16, planes=8, threshold=0.98)
    for mb in (None, 4):
        pruned = embedding_dedup_against_index(batch, idx, max_bucket=mb, **kw)
        unpruned = embedding_dedup_against_index(
            batch, idx, max_bucket=mb, prune_index=False, **kw
        )
        assert _rows(pruned, "vec_id") == _rows(unpruned, "vec_id")


def test_gate_prune_suppresses_cross_batch_dups(spark):
    """Sanity that the pruned gate still DOES its job: mutated copies of
    indexed docs are dropped, fresh docs kept, batch-internal pair keeps
    its min id."""
    from geoscan_fraud_spark.operators.incremental import dedup_against_index

    batch, idx = _gate_fixture(spark)
    # 26-word docs with ~2 words dropped: shingle Jaccard ~0.8, so both
    # the band-collision recall (~1 at bands=12/r=4) and the estimate
    # clear 0.5 for every doc — suppression is assertable without flake
    kept = {
        r["doc_id"]
        for r in dedup_against_index(
            batch, idx, num_hashes=48, bands=12, threshold=0.5
        ).collect()
    }
    assert all(5000 <= d for d in kept)  # every mutated near-dup suppressed
    assert {5000 + i for i in range(10)} <= kept  # fresh rows all kept
    assert 6000 in kept and 6001 not in kept  # internal pair -> min id


def test_gate_prune_plan_has_no_store_wide_window_shuffle(spark):
    """The pruned plan must place the broadcast semi-join BELOW the
    hot-bucket window: no Window/Exchange consumes the raw store scan
    directly — the prune is the point of VERDICT r10 #1."""
    from geoscan_fraud_spark.operators.incremental import dedup_against_index

    batch, idx = _gate_fixture(spark)
    plan = dedup_against_index(
        batch, idx, num_hashes=48, bands=12, threshold=0.5
    )._jdf.queryExecution().executedPlan().toString()
    # every Window over (band, bh) must sit above a broadcast semi-join
    # (LeftSemi + BroadcastExchange appear in the pruned plan)
    assert "LeftSemi" in plan and "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# PQ: hash-stratified training sample + persisted sampling metadata
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb11(spark):
    """Id-content-CORRELATED corpus: low ids cluster around +1, high ids
    around -1 — the case the hash-stratified sample exists for."""
    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(1.0 if i < 200 else -1.0, 0.3, 16)])
        for i in range(400)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)


def test_pq_hash_sample_default_bitstable_and_unbiased(spark, emb11):
    from geoscan_fraud_spark.operators.pq import pq_train_sample

    a = pq_train_sample(emb11, m=4, k=8, train_rows=100)
    b = pq_train_sample(emb11, m=4, k=8, train_rows=100)
    assert a == b  # bit-stable retrain under the new default
    low = pq_train_sample(emb11, m=4, k=8, train_rows=100, sample="lowest_id")
    # lowest-id trains ONLY on the +1 cluster; the hash sample mixes both
    assert a != low
    with pytest.raises(ValueError, match="sample must be"):
        pq_train_sample(emb11, m=4, k=8, sample="random")


def test_pq_metadata_persists_sampling_and_rebuild_reuses(spark, emb11, tmp_path):
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_rebuild,
        ivf_index_write,
    )
    from geoscan_fraud_spark.sources.io import read_index_meta

    path = str(tmp_path / "idx")
    ivf_index_write(
        emb11, path, n_centroids=4, pq_m=4, pq_k=16, pq_train_rows=123,
    )
    meta = read_index_meta(path + "/centroids.json")
    assert meta["pq"]["train_rows"] == 123
    assert meta["pq"]["sample"] == "hash"
    ivf_index_rebuild(spark, path)
    meta2 = read_index_meta(path + "/centroids.json")
    # the rebuilt block still records the custom sample size — the
    # retrain consumed it instead of silently shrinking to 4096
    assert meta2["pq"]["train_rows"] == 123
    assert meta2["pq"]["sample"] == "hash"


def test_residual_empty_corpus_friendly_error(spark, tmp_path):
    from geoscan_fraud_spark.operators.similarity import ivf_index_write

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    cent = [[0.0] * 16, [1.0] * 16]
    with pytest.raises(ValueError, match="zero rows"):
        ivf_index_write(
            empty, str(tmp_path / "idx"), centroids=cent,
            pq_m=4, pq_k=4, pq_residual=True,
        )


def test_default_rerank_scan_bounded_to_shortlist(spark, emb11, tmp_path):
    """ADVICE r10/r11: with rerank_corpus=None the exact re-rank must not
    dequantize every probed row's int8 vector — the dequantize side is
    bounded by a broadcast LEFT-SEMI join against the materialized
    shortlist's vec_ids (r11 replaced the driver collect + In(...)
    literal with the semi join: same bound, zero extra driver actions,
    no giant InSet in the plan)."""
    import re

    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_query,
        ivf_index_write,
    )
    from geoscan_fraud_spark.plans.audit import formatted_plan

    path = str(tmp_path / "idx")
    ivf_index_write(emb11, path, n_centroids=4, pq_m=4, pq_k=16,
                    pq_train_rows=200)
    q = emb11.filter(F.col("vec_id") < 3)
    df = ivf_index_query(q, path, k=5, nprobe=2, rerank=4, shortlist="pq")
    plan = formatted_plan(df)
    # the re-rank side still exists (a qvec-reading scan) ...
    blocks = re.split(r"\n\(\d+\) ", plan)
    qvec_scans = [
        b for b in blocks
        if b.startswith("Scan parquet") and "qvec" in b.split("ReadSchema")[-1]
    ]
    assert qvec_scans, plan
    # ... and it is bounded by a broadcast semi join on vec_id, not an
    # unbounded scan and not a driver-collected In(vec_id) literal
    semi = [
        b for b in blocks
        if "BroadcastHashJoin" in b.split("\n")[0] and "LeftSemi" in b
    ]
    assert semi, plan
    assert any("vec_id" in b for b in semi), plan
    for b in qvec_scans:
        assert not re.search(r"PushedFilters: \[[^\]]*In\(vec_id", b), (
            "driver-collected In(vec_id) literal reappeared:\n" + b
        )


# ---------------------------------------------------------------------------
# legacy empties upgrade (VERDICT r10 #5)
# ---------------------------------------------------------------------------

_TDOCS = [
    (0, "alpha beta gamma"),
    (1, "alpha delta"),
    (2, "beta beta gamma delta"),
    (3, "gamma delta epsilon"),
    (4, ""),
    (5, "   "),
]
_TSCHEMA = "doc_id long, text string"


def _make_legacy(spark, path, docs):
    """Build an index then doctor it into the pre-r10 shape: no
    empties_tracked flag, no empty_docs list."""
    import json
    import os
    import shutil

    from geoscan_fraud_spark.operators.retrieval import text_index_write

    text_index_write(docs, path, n_buckets=4)
    meta_path = path + "/stats.json"
    m = json.load(open(meta_path))
    m.pop("empties_tracked", None)
    with open(meta_path, "w") as f:
        json.dump(m, f)
    if os.path.isdir(os.path.join(path, "empty_docs")):
        shutil.rmtree(os.path.join(path, "empty_docs"))


def test_upgrade_empties_backfills_and_restores_exact_accounting(
    spark, tmp_path
):
    """Upgraded legacy index == fresh build: after the backfill, a
    tombstoned empty doc comes off n_docs exactly (the carry-forward
    caveat is gone) and stats/query results bit-match a from-scratch
    build over the survivors."""
    from geoscan_fraud_spark.operators.retrieval import (
        text_index_compact,
        text_index_query,
        text_index_upgrade_empties,
        text_index_write,
    )
    from geoscan_fraud_spark.sources.io import index_delete, read_index_meta

    docs = spark.createDataFrame(_TDOCS, _TSCHEMA)
    path = str(tmp_path / "idx")
    _make_legacy(spark, path, docs)

    # needs the corpus (2 empty docs are unrecoverable from the index)
    with pytest.raises(ValueError, match="unrecoverable"):
        text_index_upgrade_empties(spark, path)
    assert text_index_upgrade_empties(spark, path, strict=False) == {
        "upgraded": False, "needs_corpus": True, "n_empty_implied": 2,
    }
    got = text_index_upgrade_empties(spark, path, corpus=docs)
    assert got == {"upgraded": True, "n_empty": 2}
    meta = read_index_meta(path + "/stats.json")
    assert meta["empties_tracked"] is True and meta["n_empty"] == 2
    # idempotent
    again = text_index_upgrade_empties(spark, path, corpus=docs)
    assert again["upgraded"] is False and again["tracked"] is True

    # the exact accounting the flag buys: delete an empty doc, compact
    index_delete(spark, path, [4])
    text_index_compact(spark, path)
    meta = read_index_meta(path + "/stats.json")
    ref = str(tmp_path / "ref")
    text_index_write(
        docs.filter(F.col("doc_id") != 4), ref, n_buckets=4
    )
    ref_meta = read_index_meta(ref + "/stats.json")
    for key in ("n_docs", "n_empty", "total_dl", "avgdl"):
        assert meta[key] == ref_meta[key], key
    qs = [("q1", "gamma delta"), ("q2", "alpha")]
    assert {
        tuple(r) for r in text_index_query(spark, path, qs, k=5).collect()
    } == {tuple(r) for r in text_index_query(spark, ref, qs, k=5).collect()}


def test_upgrade_empties_rejects_wrong_corpus(spark, tmp_path):
    from geoscan_fraud_spark.operators.retrieval import (
        text_index_upgrade_empties,
    )

    docs = spark.createDataFrame(_TDOCS, _TSCHEMA)
    path = str(tmp_path / "idx")
    _make_legacy(spark, path, docs)
    # wrong corpus: one empty doc missing
    with pytest.raises(ValueError, match="wrong corpus"):
        text_index_upgrade_empties(
            spark, path, corpus=docs.filter(F.col("doc_id") != 5)
        )
    # wrong corpus: right COUNT of zero-token docs (2 = implied), but
    # one of them (doc 1) owns postings in the index
    forged = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 1, F.lit(""))
        .when(F.col("doc_id") == 5, F.lit("filler words"))
        .otherwise(F.col("text")),
    )
    with pytest.raises(ValueError, match="own postings"):
        text_index_upgrade_empties(spark, path, corpus=forged)


def test_upgrade_empties_free_when_no_empties_and_maintain_folds_it(
    spark, tmp_path
):
    from geoscan_fraud_spark.operators.retrieval import text_index_upgrade_empties
    from geoscan_fraud_spark.sources.io import index_maintain, read_index_meta

    docs = spark.createDataFrame(_TDOCS, _TSCHEMA).filter("doc_id <= 3")
    p1 = str(tmp_path / "free")
    _make_legacy(spark, p1, docs)
    assert text_index_upgrade_empties(spark, p1) == {
        "upgraded": True, "n_empty": 0,
    }
    assert read_index_meta(p1 + "/stats.json")["empties_tracked"] is True

    # maintain performs the same free flip on a legacy index...
    p2 = str(tmp_path / "maint")
    _make_legacy(spark, p2, docs)
    rep = index_maintain(spark, p2)
    assert rep["empties_upgrade"]["upgraded"] is True
    assert read_index_meta(p2 + "/stats.json")["empties_tracked"] is True
    # ...and is idempotent: the second pass sees a tracked index
    rep2 = index_maintain(spark, p2)
    assert "empties_upgrade" not in rep2
    assert rep2["status"] == "ok"

    # a legacy index WITH empties: maintain reports, does not fail
    full = spark.createDataFrame(_TDOCS, _TSCHEMA)
    p3 = str(tmp_path / "needs")
    _make_legacy(spark, p3, full)
    rep3 = index_maintain(spark, p3)
    assert rep3["empties_upgrade"]["needs_corpus"] is True


# ---------------------------------------------------------------------------
# span-store gate: batch-touched-gram prune (the dedup-gate fix applied
# to the second O(store)-per-batch read shape)
# ---------------------------------------------------------------------------


def test_span_gate_prune_bit_identical_and_pushes_below_dedup(spark):
    from geoscan_fraud_spark.operators.spans import (
        dedup_span_store,
        remove_spans_against_index,
        span_gram_index,
    )

    span = " ".join(f"s{j}" for j in range(12))
    corpus = spark.createDataFrame(
        [(i, f"head{i} {span} tail{i} " + " ".join(f"u{i}_{j}" for j in range(10)))
         for i in range(30)],
        "doc_id long, text string",
    )
    store = span_gram_index(corpus, min_len=8).withColumn(
        "batch_id", F.lit(0)
    ).localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        [(1000 + i, f"bh{i} {span} bt{i} " + " ".join(f"v{i}_{j}" for j in range(10)))
         for i in range(8)]
        + [(2000, "totally fresh words " + " ".join(f"w{j}" for j in range(20)))],
        "doc_id long, text string",
    )
    idx = dedup_span_store(store, pending=False)
    kw = dict(min_len=8)
    pruned = remove_spans_against_index(batch, idx, **kw)
    unpruned = remove_spans_against_index(batch, idx, _prune_store=False, **kw)
    assert _rows(pruned, "doc_id", "text") == _rows(unpruned, "doc_id", "text")
    # the repeated span (already in the store) is gone from every batch
    # doc; the fresh doc is untouched
    out = {r["doc_id"]: r["text"] for r in pruned.collect()}
    assert all("s0 s1" not in t for d, t in out.items() if d < 2000)
    assert "w0" in out[2000] and "w19" in out[2000]
    # structural: the prune reached the plan (broadcast left-semi below
    # the store aggregate)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# streaming hash-gate entry (prepared_stream_query) — repeatability smoke
# ---------------------------------------------------------------------------


def test_prepared_stream_query_deterministic(spark):
    """The r11 registry entry must be invocation-deterministic: two full
    two-cycle streaming runs (fresh work dirs, fresh checkpoints) serve
    identical BM25 results — the property the driver's hash gate needs,
    pinned here at sf0.001 so a break surfaces before the gate."""
    from geoscan_fraud_spark.harness_pipeline import prepared_stream_query

    a = _rows(
        prepared_stream_query(spark, "/root/testdata/sf0.001"),
        "query_id", "doc_id", "score", "rank",
    )
    b = _rows(
        prepared_stream_query(spark, "/root/testdata/sf0.001"),
        "query_id", "doc_id", "score", "rank",
    )
    assert a == b and len(a) > 0
