"""Generation-pointer (MVCC) semantics of the persisted serving
indexes (r09): maintenance publishes a NEW generation directory and
flips the metadata pointer in one atomic commit, so

* readers are snapshot-isolated — a query planned before the flip
  finishes against the old snapshot, whose files are never touched;
* a crash anywhere before the flip leaves the live index
  byte-identical (the half-written generation is an unpublished
  orphan — fsck names it, vacuum removes it);
* ``index_vacuum`` is the explicit GC for unreferenced generations
  (the Delta VACUUM contract: run after a grace period).

The five lifecycle verbs (`index_delete`, `index_vacuum`,
`index_expire`, `index_maintain`, `index_fsck`) serve both index kinds;
the store kind comes from the metadata file they find.
"""

import json
import os
import re
import time

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
    ivf_index_compact,
    ivf_index_query,
    ivf_index_rebuild,
    ivf_index_write,
    ivf_recall_at_k,
    lloyd_centroids,
)
from geoscan_fraud_spark.sources.io import (
    forget_ids,
    gen_dir,
    index_delete,
    index_expire,
    index_fsck,
    index_maintain,
    index_vacuum,
    list_index_generations,
    read_index_meta,
)

DOCS = [
    (1, "the quick brown fox"),
    (2, "lazy dog sleeps all day"),
    (3, "quick quick quick fox"),
    (4, "spark sql engines"),
    (5, "engines process data fast"),
    (6, "fox and dog and engines"),
    (7, "data pipelines move data"),
    (8, "the lazy fox naps"),
]
SCHEMA = "doc_id long, text string"
QUERIES = [("q1", "quick fox"), ("q2", "lazy dog engines")]


def _bm25(spark, path, queries=QUERIES, k=8):
    return {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, path, queries, k=k).collect()
    }


def _vec_rows(n, dim=16, seed=7):
    rng = np.random.RandomState(seed)
    return [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)]


def test_text_compact_publishes_generation_snapshot(spark, tmp_path):
    """Compaction flips stats.json's gen pointer; an in-flight reader
    planned BEFORE the flip collects the old snapshot correctly AFTER
    it (its directories are never touched); appends and deletes target
    the live generation; vacuum removes the stale one."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, SCHEMA)
    text_index_write(docs.filter(F.col("doc_id") <= 5), path, n_buckets=4)
    text_index_append(docs.filter(F.col("doc_id") > 5), path)
    want = _bm25(spark, path)

    # plan (but do not execute) a query against the pre-compaction gen
    inflight = text_index_query(spark, path, QUERIES, k=8)

    assert read_index_meta(path + "/stats.json").get("gen", 0) == 0
    text_index_compact(spark, path)
    meta = read_index_meta(path + "/stats.json")
    assert meta["gen"] == 1
    assert os.path.isdir(path + "/postings.g1")
    assert os.path.isdir(path + "/postings")  # old snapshot intact

    # the in-flight plan executes against the OLD snapshot — correct,
    # not FileNotFound (the pre-generation rename-swap deleted it)
    got_inflight = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in inflight.collect()
    }
    assert got_inflight == want
    # a fresh query resolves the new generation and agrees
    assert _bm25(spark, path) == want

    # append + delete land in the LIVE generation
    text_index_append(
        spark.createDataFrame([(9, "fresh fox document")], SCHEMA), path
    )
    index_delete(spark, path, [9])
    assert os.path.isdir(path + "/tombstones.g1")
    assert not os.path.isdir(path + "/tombstones")
    assert all(d != 9 for _, (d, _s) in _bm25(spark, path).items())

    removed = index_vacuum(path)
    assert "postings" in removed and "terms" in removed
    assert not os.path.isdir(path + "/postings")
    assert os.path.isdir(path + "/postings.g1")
    assert index_vacuum(path) == []  # idempotent
    # live tombstones survived the vacuum (still referenced)
    assert os.path.isdir(path + "/tombstones.g1")

    # a second compaction moves on to g2
    text_index_compact(spark, path)
    assert read_index_meta(path + "/stats.json")["gen"] == 2


def test_text_crashed_compaction_orphan_is_harmless(spark, tmp_path):
    """A generation written but never published (crash before the
    pointer flip) changes nothing for readers; fsck names it as a
    finding; vacuum removes it; the next compaction skips past it."""
    import shutil

    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, SCHEMA)
    text_index_write(docs, path, n_buckets=4)
    want = _bm25(spark, path)

    # simulate the crash: a half-written orphan generation on disk
    shutil.copytree(path + "/postings", path + "/postings.g3")
    assert _bm25(spark, path) == want  # unpublished = invisible

    rep = index_fsck(spark, path)
    assert rep["status"] == "attention"
    assert any("orphaned generation" in f for f in rep["findings"])
    assert rep["generations"] == {"live": 0, "stale": []}

    assert index_vacuum(path) == ["postings.g3"]
    assert index_fsck(spark, path)["status"] == "ok"

    # had the orphan survived until the next compaction, the new
    # generation skips past it (max on-disk + 1), never half-reusing it
    shutil.copytree(path + "/postings", path + "/postings.g3")
    text_index_compact(spark, path)
    assert read_index_meta(path + "/stats.json")["gen"] == 4
    assert _bm25(spark, path) == want


def test_text_rebuild_over_live_index_is_snapshot_safe(spark, tmp_path):
    """text_index_write over an existing index publishes a NEW
    generation: the in-flight reader keeps the old corpus, a fresh
    reader sees the new one, prior tombstones do not carry over."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, SCHEMA)
    text_index_write(docs.filter(F.col("doc_id") <= 4), path, n_buckets=4)
    index_delete(spark, path, [3])
    old_want = _bm25(spark, path)
    inflight = text_index_query(spark, path, QUERIES, k=8)

    text_index_write(docs, path, n_buckets=4)  # full rebuild, all 8 docs
    meta = read_index_meta(path + "/stats.json")
    assert meta["gen"] == 1 and meta["n_docs"] == len(DOCS)

    got_inflight = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in inflight.collect()
    }
    assert got_inflight == old_want
    # the rebuilt index contains doc 3 again: the old tombstone belongs
    # to the replaced snapshot
    fresh = str(tmp_path / "fresh")
    text_index_write(docs, fresh, n_buckets=4)
    assert _bm25(spark, path) == _bm25(spark, fresh)


def test_text_fsck_reports_stale_generations_informationally(spark, tmp_path):
    """A stale pre-flip snapshot pending vacuum is normal operation:
    it reports under 'generations', never as a finding."""
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    text_index_compact(spark, path)
    rep = index_fsck(spark, path)
    assert rep["status"] == "ok" and rep["findings"] == []
    assert rep["generations"] == {"live": 1, "stale": [0]}
    index_vacuum(path)
    rep = index_fsck(spark, path)
    assert rep["generations"] == {"live": 1, "stale": []}


def test_ivf_compact_publishes_generation_snapshot(spark, tmp_path):
    """IVF twin: compaction flips centroids.json's gen pointer; an
    in-flight query planned before the flip collects the old snapshot;
    the live generation starts tombstone-free; vacuum GCs the rest."""
    rows = _vec_rows(40)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 4)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    ivf_index_write(df, path, centroids=cent)
    ivf_index_append(
        spark.createDataFrame(_vec_rows(10, seed=9), "vec_id long, embedding array<double>")
        .select((F.col("vec_id") + 100).alias("vec_id"), "embedding"),
        path,
    )
    q = df.filter(F.col("vec_id") < 3)
    want = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in ivf_index_query(q, path, k=5, nprobe=2).collect()
    }
    inflight = ivf_index_query(q, path, k=5, nprobe=2)

    ivf_index_compact(spark, path)
    meta = read_index_meta(path + "/centroids.json")
    assert meta["gen"] == 1
    assert os.path.isdir(path + "/lists.g1") and os.path.isdir(path + "/lists")
    # recomputed counters match the folded rows exactly
    assert meta["rows"] == 50 and meta["appended_rows"] == 0

    got_inflight = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in inflight.collect()
    }
    assert got_inflight == want
    got_fresh = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in ivf_index_query(q, path, k=5, nprobe=2).collect()
    }
    assert got_fresh == want

    removed = index_vacuum(path)
    assert removed == ["lists"]
    assert not os.path.isdir(path + "/lists")
    rep = index_fsck(spark, path)
    assert rep["status"] == "ok" and rep["generations"] == {
        "live": 1,
        "stale": [],
    }


def test_ivf_rebuild_in_place_never_unlinks_the_index(spark, tmp_path):
    """The rebuild publishes a new generation beside the live one — the
    index path and its metadata file exist at every instant (the old
    whole-directory swap had a window where neither did); the stream
    cursor carries over; tombstoned vectors do not survive."""
    rows = _vec_rows(40)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 4)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    ivf_index_write(df, path, centroids=cent)
    ivf_index_append(
        spark.createDataFrame(
            _vec_rows(5, seed=3), "vec_id long, embedding array<double>"
        ).select((F.col("vec_id") + 100).alias("vec_id"), "embedding"),
        path,
        src_batch=7,
    )
    index_delete(spark, path, [0, 1])
    inflight = ivf_index_query(
        df.filter(F.col("vec_id") == 5), path, k=3, nprobe=4
    )
    before_inflight = {
        (r["query_id"], r["rank"]): r["vec_id"] for r in inflight.collect()
    }

    ivf_index_rebuild(spark, path, n_centroids=4)
    meta = read_index_meta(path + "/centroids.json")
    assert meta["gen"] == 1 and meta["last_stream_batch"] == 7
    assert os.path.isdir(path + "/lists")  # old snapshot intact
    assert not os.path.exists(path + ".__old__")  # no whole-dir swap

    # in-flight plan still collects (old snapshot untouched)
    assert {
        (r["query_id"], r["rank"]): r["vec_id"] for r in inflight.collect()
    } == before_inflight

    # tombstoned vectors are gone from the rebuilt generation
    live = spark.read.parquet(gen_dir(path, "lists", meta))
    ids = {r["vec_id"] for r in live.select("vec_id").collect()}
    assert not ({0, 1} & ids) and len(ids) == 43

    removed = index_vacuum(path)
    assert "lists" in removed and "tombstones" in removed


def test_delete_takes_the_writer_lock(spark, tmp_path):
    """A takedown during maintenance would land in a snapshot about to
    be replaced and silently vacuumed — refused loudly instead."""
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    with open(os.path.join(path, ".writer.lock"), "w") as f:
        f.write("pid=1 op=compact")
    with pytest.raises(ValueError, match="writer"):
        index_delete(spark, path, [1])
    os.unlink(os.path.join(path, ".writer.lock"))
    index_delete(spark, path, [1])  # released -> proceeds

    rows = _vec_rows(20)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    ivf = str(tmp_path / "ivf")
    ivf_index_write(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        ivf,
        centroids=cent,
    )
    with open(os.path.join(ivf, ".writer.lock"), "w") as f:
        f.write("pid=1 op=compact")
    with pytest.raises(ValueError, match="writer"):
        index_delete(spark, ivf, [1])


def test_rebuild_over_live_carries_stream_cursor(spark, tmp_path):
    """A full rebuild (text_index_write / ivf_index_write over a live
    index) must carry last_stream_batch like ivf_index_rebuild does:
    dropping it would let a crash-window replay of a committed batch
    pass the replay guard and double-count (review r09)."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, SCHEMA)
    text_index_write(docs.filter(F.col("doc_id") <= 4), path, n_buckets=4)
    text_index_append(docs.filter(F.col("doc_id") > 4), path, src_batch=5)
    text_index_write(docs, path, n_buckets=4)  # rebuild over live
    meta = read_index_meta(path + "/stats.json")
    assert meta["last_stream_batch"] == 5
    # the committed batch's replay is SKIPPED against the rebuilt index
    res = text_index_append(
        docs.filter(F.col("doc_id") > 4), path, src_batch=5
    )
    assert res["skipped_replay"] is True
    assert read_index_meta(path + "/stats.json")["n_docs"] == len(DOCS)

    rows = _vec_rows(30)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf = str(tmp_path / "ivf")
    ivf_index_write(df, ivf, centroids=cent)
    ivf_index_append(
        df.select((F.col("vec_id") + 100).alias("vec_id"), "embedding"),
        ivf,
        src_batch=9,
    )
    ivf_index_write(df, ivf, centroids=cent)  # rebuild over live
    meta = read_index_meta(ivf + "/centroids.json")
    assert meta["gen"] == 1 and meta["last_stream_batch"] == 9
    res = ivf_index_append(
        df.select((F.col("vec_id") + 100).alias("vec_id"), "embedding"),
        ivf,
        src_batch=9,
    )
    assert res["skipped_replay"] is True


def test_stale_writer_lock_auto_reclaimed_when_holder_dead(spark, tmp_path):
    """A routine driver crash (SIGKILL mid-append) must not turn the
    streaming ingest into a manual-intervention outage: a lock whose
    recorded holder is on THIS host with a provably-dead pid is
    auto-reclaimed; an alive holder, another host, or an unparseable
    lock still refuses (review r09)."""
    import socket
    import subprocess

    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, SCHEMA)
    text_index_write(docs.filter(F.col("doc_id") <= 5), path, n_buckets=4)
    lock = os.path.join(path, ".writer.lock")
    host = socket.gethostname()

    # provably-dead same-host pid -> reclaimed, append proceeds
    p = subprocess.Popen(["true"])
    p.wait()
    with open(lock, "w") as f:
        f.write(f"pid={p.pid} host={host} op=append")
    res = text_index_append(docs.filter(F.col("doc_id") > 5), path)
    assert res["rows"] == 3 and not os.path.exists(lock)

    # alive same-host pid -> refused
    with open(lock, "w") as f:
        f.write(f"pid={os.getpid()} host={host} op=append")
    with pytest.raises(ValueError, match="writer"):
        text_index_append(docs.filter(F.col("doc_id") > 5), path)
    os.unlink(lock)

    # other-host holder -> refused (liveness unknowable)
    with open(lock, "w") as f:
        f.write(f"pid=1 host=not-{host} op=append")
    with pytest.raises(ValueError, match="writer"):
        text_index_append(docs.filter(F.col("doc_id") > 5), path)
    os.unlink(lock)

    # legacy/unparseable lock content -> refused
    with open(lock, "w") as f:
        f.write("pid=1 op=append")
    with pytest.raises(ValueError, match="writer"):
        text_index_append(docs.filter(F.col("doc_id") > 5), path)


def test_text_fsck_sweeps_terms_leftovers_too(spark, tmp_path):
    """The doctor must not green-light an index whose maintenance path
    is blocked: a crashed pre-generation terms swap surfaces even when
    postings are clean (review r09)."""
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    os.makedirs(path + "/terms.__old__")
    rep = index_fsck(spark, path)
    assert rep["status"] == "attention"
    assert any("terms.__old__" in f for f in rep["findings"])
    os.rmdir(path + "/terms.__old__")
    assert index_fsck(spark, path)["status"] == "ok"


def test_vacuum_grace_period_spares_young_generations(spark, tmp_path):
    """min_age_sec mechanizes the Delta-VACUUM grace period: a stale
    generation younger than it survives the vacuum (an in-flight
    straggler can still be reading it) and goes on the next pass."""
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    text_index_compact(spark, path)
    assert os.path.isdir(path + "/postings")  # stale gen 0 present

    assert index_vacuum(path, min_age_sec=3600) == []  # too young
    assert os.path.isdir(path + "/postings")

    # age the stale dirs past the horizon and vacuum again
    old = 10_000
    for d in ("postings", "terms"):
        st = os.stat(os.path.join(path, d))
        os.utime(os.path.join(path, d), (st.st_atime - old, st.st_mtime - old))
    removed = index_vacuum(path, min_age_sec=3600)
    assert "postings" in removed and "terms" in removed
    assert not os.path.isdir(path + "/postings")


def test_rebuild_recovers_torn_metadata_index(spark, tmp_path):
    """read_index_meta's refusal advertises 'rebuild the index' as the
    torn-metadata recovery path — with generations that really works:
    text_index_write over a corrupt-stats index publishes the next
    generation with fresh metadata, no manual cleanup."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, SCHEMA)
    text_index_write(docs, path, n_buckets=4)
    with open(path + "/stats.json", "w") as f:
        f.write('{"torn')  # crash mid-write by a pre-atomic writer

    with pytest.raises(ValueError, match="corrupt"):
        text_index_query(spark, path, QUERIES, k=8)

    text_index_write(docs, path, n_buckets=4)  # the advertised cure
    meta = read_index_meta(path + "/stats.json")
    assert meta["gen"] == 1  # skipped past the unreadable gen-0 layout
    fresh = str(tmp_path / "fresh")
    text_index_write(docs, fresh, n_buckets=4)
    assert _bm25(spark, path) == _bm25(spark, fresh)


def test_five_verbs_serve_both_index_kinds(spark, tmp_path):
    """Every lifecycle verb runs on a BM25 and on an IVF index in one
    session, reading the store kind from the metadata file it finds;
    on a path holding neither metadata file each verb raises a
    ValueError naming the path."""
    docs = spark.createDataFrame(DOCS, SCHEMA)
    bm25 = str(tmp_path / "bm25")
    text_index_write(docs.filter(F.col("doc_id") <= 4), bm25, n_buckets=4)
    text_index_append(docs.filter(F.col("doc_id") > 4), bm25, src_batch=1)
    rows = _vec_rows(30)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf = str(tmp_path / "ivf")
    ivf_index_write(vecs.filter(F.col("vec_id") < 20), ivf, centroids=cent)
    ivf_index_append(vecs.filter(F.col("vec_id") >= 20), ivf, src_batch=1)

    for path, meta_name, dead in (
        (bm25, "stats.json", 2),
        (ivf, "centroids.json", 3),
    ):
        index_delete(spark, path, [dead])
        rep = index_fsck(spark, path)
        assert any("pending tombstones" in f for f in rep["findings"])
        # drops batch 1 and applies the tombstone in one new generation
        index_expire(spark, path, min_src_batch=2)
        assert read_index_meta(os.path.join(path, meta_name))["gen"] == 1
        assert index_vacuum(path)  # the retired generation 0
        report = index_maintain(spark, path)
        assert report["status"] == "ok" and report["compacted"] is False
        assert report["healed"] == [] and report["vacuumed"] == []
        assert index_fsck(spark, path)["findings"] == []
    assert read_index_meta(bm25 + "/stats.json")["n_docs"] == 3  # 1, 3, 4
    assert read_index_meta(ivf + "/centroids.json")["rows"] == 19

    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    for verb in (
        lambda: index_delete(spark, bare, [1]),
        lambda: index_vacuum(bare),
        lambda: index_expire(spark, bare, 1),
        lambda: index_maintain(spark, bare),
        lambda: index_fsck(spark, bare),
    ):
        with pytest.raises(ValueError, match=re.escape(bare)):
            verb()


def test_text_index_fsck_clean_and_dirty(spark, tmp_path):
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    rep = index_fsck(spark, path)
    assert rep["status"] == "ok" and rep["findings"] == []
    assert rep["measured"]["n_docs"] == rep["meta"]["n_docs"] == 8

    # crash-window replay: duplicate postings + df over-count, counters intact
    batch = spark.createDataFrame([(9, "replayed fox doc")], SCHEMA)
    text_index_append(batch, path, src_batch=0)
    meta_path = path + "/stats.json"
    # simulate: rows landed, stats commit didn't, then the replay re-ran
    m = json.load(open(meta_path))
    m["last_stream_batch"] = -1
    m["n_docs"] -= 1
    m["total_dl"] -= 3
    m["appends"] -= 1
    m["n_empty"] = m.get("n_empty", 0)
    with open(meta_path, "w") as f:
        json.dump(m, f)
    text_index_append(batch, path, src_batch=0)

    rep = index_fsck(spark, path)
    assert rep["status"] == "attention"
    text = " ".join(rep["findings"])
    assert "duplicate rows in postings" in text and "df log" in text
    # counters never double-counted (same-write contract): no drift finding
    assert "counter drift" not in text

    text_index_compact(spark, path)
    rep = index_fsck(spark, path)
    assert rep["status"] == "ok" and rep["findings"] == []

    # pending tombstones + stale lock + corrupt meta all surface
    index_delete(spark, path, [1])
    with open(os.path.join(path, ".writer.lock"), "w") as f:
        f.write("pid=1 op=test")
    rep = index_fsck(spark, path)
    text = " ".join(rep["findings"])
    assert "tombstones" in text and "writer lock" in text
    os.unlink(os.path.join(path, ".writer.lock"))
    with open(meta_path, "w") as f:
        f.write('{"torn')
    rep = index_fsck(spark, path)
    assert rep["status"] == "attention" and "corrupt" in " ".join(
        rep["findings"]
    )


def test_ivf_index_fsck_and_recall(spark, tmp_path):
    path = str(tmp_path / "ivf")
    rows = _vec_rows(120, dim=8, seed=51)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 6)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_index_write(df, path, centroids=cent)

    rep = index_fsck(spark, path)
    assert rep["status"] == "ok" and rep["findings"] == []
    assert rep["measured"]["rows"] == 120

    # crash-window replay: duplicate rows, counters committed once
    batch = spark.createDataFrame(
        [(500 + j, v) for j, v in _vec_rows(10, dim=8, seed=52)],
        "vec_id long, embedding array<double>",
    )
    ivf_index_append(batch, path, src_batch=0)
    meta_path = path + "/centroids.json"
    m = json.load(open(meta_path))
    m["last_stream_batch"] = -1
    m["appended_rows"] -= 10
    m["appends"] -= 1
    with open(meta_path, "w") as f:
        json.dump(m, f)
    ivf_index_append(batch, path, src_batch=0)
    rep = index_fsck(spark, path)
    assert rep["status"] == "attention"
    assert "duplicate rows" in " ".join(rep["findings"])
    assert "drift" not in " ".join(rep["findings"])
    ivf_index_compact(spark, path)
    assert index_fsck(spark, path)["status"] == "ok"

    # measured recall: probing ALL lists with full-precision re-rank is
    # exact by construction (recall 1.0); with int8 re-rank only the k
    # boundary can wobble; nprobe=2 of 6 may drop neighbors but not
    # collapse
    probes = df.filter(F.col("vec_id") < 10)
    full_corpus = df.unionByName(batch)
    assert (
        ivf_recall_at_k(
            probes, path, full_corpus, k=5, nprobe=6,
            rerank_corpus=full_corpus,
        )
        == 1.0
    )
    assert ivf_recall_at_k(probes, path, full_corpus, k=5, nprobe=6) >= 0.9
    part = ivf_recall_at_k(probes, path, full_corpus, k=5, nprobe=2)
    assert 0.3 <= part <= 1.0


def test_ivf_index_delete_accepts_string_ids(spark, tmp_path):
    path = str(tmp_path / "ivf")
    rng = np.random.RandomState(21)
    rows = [
        (f"doc-{i}", [float(x) for x in rng.randn(6)]) for i in range(20)
    ]
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    ivf_index_write(df, path, centroids=cent)

    index_delete(spark, path, ["doc-3", "doc-7"])
    got = ivf_index_query(
        df.limit(3), path, k=20, nprobe=2, exclude_self=False
    )
    ids = {r["vec_id"] for r in got.select("vec_id").distinct().collect()}
    assert "doc-3" not in ids and "doc-7" not in ids and len(ids) > 0


def test_takedown_rejects_multi_column_ids(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, SCHEMA)
    path = str(tmp_path / "idx")
    text_index_write(docs, path, n_buckets=4)
    with pytest.raises(ValueError, match="ONE-column"):
        index_delete(spark, path, docs)  # two columns
    with pytest.raises(ValueError, match="ONE-column"):
        forget_ids(spark, str(tmp_path / "store"), docs)
    rows = [(i, [float(i), 1.0]) for i in range(20)]
    cent = lloyd_centroids(np.array([v for _, v in rows]), 2)
    vdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf = str(tmp_path / "ivf")
    ivf_index_write(vdf, ivf, centroids=cent)
    with pytest.raises(ValueError, match="ONE-column"):
        index_delete(spark, ivf, vdf)
    # the happy paths still work
    index_delete(spark, path, docs.select("doc_id"))
    index_delete(spark, ivf, vdf.select("vec_id"))
    forget_ids(spark, str(tmp_path / "store"), [1, 2])


def _backdate(root: str, names, age: float) -> None:
    t = time.time() - age
    for name, gens in list_index_generations(root, list(names)).items():
        for g in gens:
            d = os.path.join(root, name if g == 0 else f"{name}.g{g}")
            os.utime(d, (t, t))


def test_vacuum_grace_ages_from_retire_not_last_write(spark, tmp_path):
    """A generation QUIESCENT for longer than the grace period must not
    be vacuumable the instant it is retired: the flip stamps outgoing
    dirs, so a fresh retirement always gets a full grace period."""
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    # make generation 0 look long-quiescent (last write far in the past)
    _backdate(path, ["postings", "terms"], age=3600)
    text_index_compact(spark, path)  # flips to gen 1, stamps gen 0 = NOW
    # a grace-period vacuum right after the flip must NOT remove gen 0
    assert index_vacuum(path, min_age_sec=60) == []
    assert os.path.isdir(os.path.join(path, "postings"))
    # once the grace period has really elapsed since the RETIRE, it goes
    _backdate(path, ["postings", "terms"], age=120)
    removed = index_vacuum(path, min_age_sec=60)
    assert "postings" in removed and "terms" in removed


def test_ivf_vacuum_grace_ages_from_retire(spark, tmp_path):
    path = str(tmp_path / "ivf")
    rows = [(i, [float(i % 5), float(i % 3)]) for i in range(40)]
    cent = lloyd_centroids(np.array([v for _, v in rows]), 4)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_index_write(df, path, centroids=cent)
    _backdate(path, ["lists"], age=3600)
    ivf_index_compact(spark, path)
    assert index_vacuum(path, min_age_sec=60) == []
    _backdate(path, ["lists"], age=120)
    assert "lists" in index_vacuum(path, min_age_sec=60)
