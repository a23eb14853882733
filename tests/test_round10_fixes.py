"""Round-10 fixes, test-pinned:

* writer-lock steal race (ADVICE r09 medium #1 + low #3, VERDICT r09 #3):
  sentinel-serialized content-verified steal — two racing stealers can
  never both win, a fresh live lock is never removed, a vanished lock is
  retried instead of refused, and the lock is never visible without its
  holder metadata;
* exact n_empty accounting for deleted/expired zero-token docs
  (VERDICT r09 #5 — the ``empty_docs`` list);
* `dedup_span_store` pending flag (ADVICE r09 low #4);
* MVCC snapshot read handles on both serving queries (``meta=`` — the
  stale-generation contract VERDICT r09 #6 put under the hash gate);
* the star hot-bucket guard (found BY the new skew scale rung): oversized
  LSH buckets emit linear min-id hub edges instead of k^2/2 pairs, on by
  default for `minhash_dedup` AND the streaming ingest gate
  `dedup_against_index` — bounded cost, floods still collapse/suppress,
  bit-identical below the cap;
* j2_join_two_keys fold value pin (slot funds ann_ivf_incremental_query).
"""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import threading
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
    ivf_index_write,
    lloyd_centroids,
)
from geoscan_fraud_spark.sources.io import (
    _try_steal_stale_lock,
    index_delete,
    index_expire,
    index_fsck,
    index_vacuum,
    index_writer_lock,
    list_index_generations,
    read_index_meta,
)

HOST = socket.gethostname()


def _dead_pid() -> int:
    """A pid that provably does not exist: spawn-and-reap a child."""
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


def _plant_lock(path: str, holder: str) -> str:
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, ".writer.lock")
    with open(lock, "w") as f:
        f.write(holder)
    return lock


# ------------------------------------------------------------- writer lock


def test_steal_verifies_content_before_removing(tmp_path):
    """THE ADVICE r09 race: a stealer acting on a stale holder it read
    earlier must never remove a FRESH lock that replaced it in the
    window. The old rename-claim moved the fresh lock and broke mutual
    exclusion; the new steal re-reads and verifies."""
    path = str(tmp_path / "idx")
    stale = f"pid={_dead_pid()} host={HOST} op=crashed token=aaaa"
    lock = _plant_lock(path, stale)
    # the window: another writer reclaimed and re-acquired — fresh lock
    fresh = f"pid={os.getpid()} host={HOST} op=live token=bbbb"
    with open(lock, "w") as f:
        f.write(fresh)
    # stealer B still believes `stale` is the holder
    assert _try_steal_stale_lock(lock, stale) is False
    assert open(lock).read().strip() == fresh  # untouched
    # no sentinel leaked
    assert [f for f in os.listdir(path) if ".steal-" in f] == []


def test_steal_reclaims_dead_holder_and_cleans_up(tmp_path):
    path = str(tmp_path / "idx")
    stale = f"pid={_dead_pid()} host={HOST} op=crashed token=cccc"
    lock = _plant_lock(path, stale)
    assert _try_steal_stale_lock(lock, stale) is True
    assert not os.path.exists(lock)
    assert [f for f in os.listdir(path) if ".steal-" in f] == []


def test_steal_vanished_lock_reports_free(tmp_path):
    """A lock that vanished between the read and the steal is free —
    the caller re-contends instead of refusing (VERDICT r09 #3)."""
    path = str(tmp_path / "idx")
    os.makedirs(path)
    lock = os.path.join(path, ".writer.lock")
    stale = f"pid={_dead_pid()} host={HOST} op=crashed token=dddd"
    assert _try_steal_stale_lock(lock, stale) is True


def test_steal_recovers_from_crashed_stealer_sentinel(tmp_path):
    """A stealer that crashed mid-steal leaves its sentinel behind; the
    next contender adjudicates the sentinel's own dead holder and
    completes the steal instead of wedging forever."""
    import hashlib

    path = str(tmp_path / "idx")
    stale = f"pid={_dead_pid()} host={HOST} op=crashed token=eeee"
    lock = _plant_lock(path, stale)
    sentinel = f"{lock}.steal-{hashlib.md5(stale.encode()).hexdigest()[:12]}"
    with open(sentinel, "w") as f:
        f.write(f"pid={_dead_pid()} host={HOST}")
    assert _try_steal_stale_lock(lock, stale) is True
    assert not os.path.exists(lock) and not os.path.exists(sentinel)


def test_steal_backs_off_while_live_stealer_works(tmp_path):
    import hashlib

    path = str(tmp_path / "idx")
    stale = f"pid={_dead_pid()} host={HOST} op=crashed token=ffff"
    lock = _plant_lock(path, stale)
    sentinel = f"{lock}.steal-{hashlib.md5(stale.encode()).hexdigest()[:12]}"
    with open(sentinel, "w") as f:
        f.write(f"pid={os.getpid()} host={HOST}")  # live stealer
    assert _try_steal_stale_lock(lock, stale) is False
    assert os.path.exists(lock)
    os.unlink(sentinel)


def test_lock_never_visible_without_holder(tmp_path):
    """The link-claim writes holder metadata BEFORE the lock becomes
    visible (ADVICE r09 low: the old create-then-write crash window left
    an empty, forever-unstealable lock)."""
    path = str(tmp_path / "idx")
    os.makedirs(path)
    lock = os.path.join(path, ".writer.lock")
    with index_writer_lock(path, "test_op"):
        content = open(lock).read()
        fields = dict(kv.split("=", 1) for kv in content.split())
        assert fields["pid"] == str(os.getpid())
        assert fields["host"] == HOST
        assert fields["op"] == "test_op"
        assert len(fields["token"]) == 12  # unique per acquire (anti-ABA)
        # the claim tmp is consumed
        assert [f for f in os.listdir(path) if ".claim-" in f] == []
    assert not os.path.exists(lock)


def test_two_contenders_with_dead_holder_both_proceed(tmp_path):
    """VERDICT r09 #3 'done' criterion: two threads contend over a
    planted dead-holder lock; BOTH must eventually run their critical
    sections, and never concurrently."""
    path = str(tmp_path / "idx")
    stale = f"pid={_dead_pid()} host={HOST} op=crashed token=gggg"
    _plant_lock(path, stale)

    inside = [0]
    max_inside = [0]
    done = []
    errors = []

    def contend(name):
        deadline = time.time() + 30
        while time.time() < deadline:
            try:
                with index_writer_lock(path, name):
                    inside[0] += 1
                    max_inside[0] = max(max_inside[0], inside[0])
                    time.sleep(0.05)
                    inside[0] -= 1
                done.append(name)
                return
            except ValueError:
                time.sleep(0.01)  # held by the other contender — retry
        errors.append(f"{name} never acquired")

    threads = [
        threading.Thread(target=contend, args=(f"w{i}",)) for i in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert sorted(done) == ["w0", "w1"]
    assert max_inside[0] == 1  # mutual exclusion held throughout
    assert not os.path.exists(os.path.join(path, ".writer.lock"))


def test_lock_still_refuses_live_and_foreign_holders(tmp_path):
    path = str(tmp_path / "idx")
    # live same-host holder
    _plant_lock(path, f"pid={os.getpid()} host={HOST} op=x token=hhhh")
    with pytest.raises(ValueError, match="writer is active"):
        with index_writer_lock(path, "op"):
            pass
    # foreign host, dead-looking pid — cross-host liveness unknowable
    _plant_lock(path, f"pid={_dead_pid()} host=elsewhere op=x token=iiii")
    with pytest.raises(ValueError, match="writer is active"):
        with index_writer_lock(path, "op"):
            pass
    os.unlink(os.path.join(path, ".writer.lock"))


DOCS = [
    (0, "alpha beta gamma"),
    (1, "alpha delta"),
    (2, "beta beta gamma delta"),
    (3, "gamma delta epsilon"),
]
SCHEMA = "doc_id long, text string"


# ------------------------------------------- exact empty-doc stat recompute

EMPTY_DOCS = DOCS + [(4, ""), (5, "   ")]  # 4 and 5 tokenize to nothing


def test_deleted_empty_doc_comes_off_n_docs_exactly(spark, tmp_path):
    """VERDICT r09 #5: tombstoning a zero-token doc used to leave its +1
    in n_docs forever. With the empty_docs list, compaction subtracts it
    exactly and the result is bit-equal to a from-scratch build over the
    survivor corpus."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(EMPTY_DOCS, SCHEMA)
    text_index_write(docs.filter(F.col("doc_id") <= 3), path, n_buckets=4)
    text_index_append(docs.filter(F.col("doc_id") > 3), path)
    meta = read_index_meta(path + "/stats.json")
    assert meta["n_docs"] == 6 and meta["n_empty"] == 2
    assert meta["empties_tracked"] is True

    # tombstone one empty doc and one real doc, compact
    index_delete(spark, path, [1, 4])
    text_index_compact(spark, path)
    meta = read_index_meta(path + "/stats.json")
    assert meta["n_empty"] == 1  # doc 5 survives, doc 4 is gone
    assert meta["n_docs"] == 4  # docs 0, 2, 3, 5

    # bit-parity with a from-scratch build over the survivors
    ref = str(tmp_path / "ref")
    text_index_write(
        docs.filter(~F.col("doc_id").isin(1, 4)), ref, n_buckets=4
    )
    ref_meta = read_index_meta(ref + "/stats.json")
    assert meta["n_docs"] == ref_meta["n_docs"]
    assert meta["total_dl"] == ref_meta["total_dl"]
    assert meta["avgdl"] == ref_meta["avgdl"]
    qs = [("q1", "gamma delta"), ("q2", "alpha")]
    got = {
        tuple(r) for r in text_index_query(spark, path, qs, k=5).collect()
    }
    want = {
        tuple(r) for r in text_index_query(spark, ref, qs, k=5).collect()
    }
    assert got == want

    # idempotent: a second compaction changes nothing
    text_index_compact(spark, path)
    meta2 = read_index_meta(path + "/stats.json")
    assert (meta2["n_docs"], meta2["n_empty"], meta2["total_dl"]) == (
        meta["n_docs"], meta["n_empty"], meta["total_dl"]
    )


def test_expired_empty_doc_comes_off_n_docs(spark, tmp_path):
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(EMPTY_DOCS, SCHEMA)
    text_index_write(docs.filter(F.col("doc_id") <= 3), path, n_buckets=4)
    # batch 1 carries the empty docs; expire below 2 drops them
    text_index_append(docs.filter(F.col("doc_id") > 3), path, src_batch=1)
    index_expire(spark, path, min_src_batch=2)
    meta = read_index_meta(path + "/stats.json")
    assert meta["n_empty"] == 0
    assert meta["n_docs"] == 4  # the four build docs (src_batch=-1 kept)


def test_legacy_index_without_tracking_keeps_carry_forward(spark, tmp_path):
    """An index whose stats.json lacks empties_tracked (pre-r10) keeps
    the conservative counter carry-forward on compaction."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(EMPTY_DOCS, SCHEMA)
    text_index_write(docs, path, n_buckets=4)
    # simulate a pre-r10 index: drop the flag and the list
    meta_path = path + "/stats.json"
    m = json.load(open(meta_path))
    del m["empties_tracked"]
    with open(meta_path, "w") as f:
        json.dump(m, f)
    import shutil

    shutil.rmtree(os.path.join(path, "empty_docs"))
    index_delete(spark, path, [4])  # a (now-invisible) empty doc
    text_index_compact(spark, path)
    meta = read_index_meta(meta_path)
    assert meta["n_empty"] == 2  # carry-forward, the documented legacy mode
    assert meta["n_docs"] == 6  # 4 live + 2 empty (old caveat semantics)


def test_empty_docs_fold_under_generations_and_vacuum(spark, tmp_path):
    """The empty_docs family is generation-scoped like the others: a
    compaction rewrites it at the new generation and vacuum removes the
    stale copy."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(EMPTY_DOCS, SCHEMA)
    text_index_write(docs, path, n_buckets=4)
    text_index_compact(spark, path)
    gens = list_index_generations(path, ["empty_docs"])["empty_docs"]
    assert gens == [0, 1]
    removed = index_vacuum(path)
    assert "empty_docs" in removed
    assert list_index_generations(path, ["empty_docs"])["empty_docs"] == [1]
    rep = index_fsck(spark, path)
    assert rep["status"] == "ok"


# ------------------------------------------------- j2 fold value pin (r10)


def test_j2_join_two_keys_matches_pandas(spark, sf_dir):
    """j2_join_two_keys rotated out of the 50-slot registry in r10 (slot
    funds ann_ivf_incremental_query); its aggregate-then-self-join result
    stays pinned here against a pandas groupby+merge."""
    import pandas as pd

    from geoscan_fraud_spark.harness import j2_join_two_keys

    got = j2_join_two_keys(spark, sf_dir).toPandas()
    li = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet"))[
        ["l_orderkey", "l_partkey", "l_linenumber", "l_quantity"]
    ]
    pq = (
        li.groupby(["l_orderkey", "l_partkey"], as_index=False)["l_quantity"]
        .sum()
        .rename(columns={"l_quantity": "part_qty"})
    )
    pq["part_qty"] = pq["part_qty"].round(2)  # the DECIMAL(18,2) contract
    want = li.drop(columns="l_quantity").merge(
        pq, on=["l_orderkey", "l_partkey"]
    )
    key = ["l_orderkey", "l_partkey", "l_linenumber"]
    got = got.sort_values(key).reset_index(drop=True)[want.columns]
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# ----------------------------------------------- MVCC stale-read snapshot


def test_ivf_query_meta_handle_pins_generation(spark, tmp_path):
    """`ivf_index_query(meta=...)` is the MVCC read handle: a query
    planned against gen-N metadata after gen N+1 flipped still serves
    the gen-N snapshot (tombstone-filtered), byte-complete — the
    registered ann_ivf_incremental_query gates the equal-result case;
    this pins the UNEQUAL case (stale read sees the pre-delete world
    minus tombstones only when the delete landed in its generation)."""
    path = str(tmp_path / "ivf")
    rows = [(i, [float(i % 7), float(i % 4), 1.0]) for i in range(60)]
    cent = lloyd_centroids(np.array([v for _, v in rows]), 4)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_index_write(df, path, centroids=cent)
    gen0 = read_index_meta(path + "/centroids.json")
    # append lands in gen 0 AFTER the handle was taken: a stale reader
    # sees it (appends go INTO the live generation, no flip)
    ivf_index_append(
        spark.createDataFrame(
            [(100, [9.0, 5.0, 1.0])], "vec_id long, embedding array<double>"
        ),
        path,
    )
    ivf_index_compact(spark, path)  # flip to gen 1
    # delete AFTER the flip: tombstones are generation-scoped to gen 1,
    # so the stale gen-0 read must NOT see them
    index_delete(spark, path, [100])
    from geoscan_fraud_spark.operators.similarity import ivf_index_query

    q = spark.createDataFrame(
        [(999, [9.0, 5.0, 1.0])], "vec_id long, embedding array<double>"
    )
    live = ivf_index_query(
        q, path, k=1, nprobe=4, rerank_corpus=df, exclude_self=False
    )
    stale = ivf_index_query(
        q, path, k=1, nprobe=4, rerank_corpus=None, exclude_self=False,
        meta=gen0,
    )
    # live read: 100 tombstoned -> nearest is some original vector;
    # stale read: plans against gen 0 (pre-compact files, gen-0
    # tombstones dir = none) -> 100 is still the nearest neighbor
    assert live.filter(F.col("vec_id") == 100).count() == 0
    assert stale.first()["vec_id"] == 100


def test_text_query_meta_handle_pins_generation(spark, tmp_path):
    """`text_index_query(meta=...)` — the lexical twin of the IVF MVCC
    read handle: a reader holding gen-N metadata after the gen-N+1 flip
    serves the gen-N snapshot with gen-N tombstone visibility (a delete
    landing in gen N+1 is invisible to it)."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, SCHEMA)
    text_index_write(docs, path, n_buckets=4)
    gen0 = read_index_meta(path + "/stats.json")
    text_index_compact(spark, path)  # flip to gen 1
    index_delete(spark, path, [2])  # gen-1-scoped tombstone
    qs = [("q1", "beta gamma")]
    live = text_index_query(spark, path, qs, k=5)
    stale = text_index_query(spark, path, qs, k=5, meta=gen0)
    assert live.filter(F.col("doc_id") == 2).count() == 0
    assert stale.filter(F.col("doc_id") == 2).count() == 1
    # scores of the stale read equal the pre-delete world exactly
    ref = text_index_query(spark, path, qs, k=5, meta=gen0).collect()
    assert {tuple(r) for r in stale.collect()} == {tuple(r) for r in ref}


# -------------------------------------------- star hot-bucket guard (skew)

HOT = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu "
    "xi omicron pi rho sigma tau upsilon"
)


def test_star_guard_bounds_flood_and_still_collapses_it(spark):
    """The r10 skew rung measured the unguarded minhash default going
    quadratic (29x uniform wall) on a 20% near-dup family. The star
    guard bounds candidates to O(k) per hot bucket AND the family still
    collapses to one representative — unlike the drop guard, which
    exempted the flood from dedup entirely."""
    from geoscan_fraud_spark.operators import dedup as dd

    rows = [(i, f"{HOT} tail{i} x{i} y{i}") for i in range(600)] + [
        (1000 + i, " ".join(f"w{i}_{j}" for j in range(25))) for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = dd.minhash_candidate_pairs(
        docs, n=3, num_hashes=48, bands=12, max_bucket=50
    ).count()
    # star: ~599 hub edges (+ small-bucket pairs), nowhere near 600^2/2
    assert cand < 5_000
    kept = {
        r.doc_id
        for r in dd.minhash_dedup(
            docs, threshold=0.5, n=3, num_hashes=48, bands=12, max_bucket=50
        ).select("doc_id").collect()
    }
    assert kept & set(range(600)) == {0}  # the flood collapsed via its hub
    assert set(range(1000, 1020)) <= kept  # unrelated docs untouched


def test_star_guard_inactive_below_cap(spark):
    """Below the cap the guarded and unguarded candidate sets are
    IDENTICAL — the default only changes behavior on 256+ hot buckets."""
    from geoscan_fraud_spark.operators import dedup as dd

    rows = [(i, f"{HOT} tail{i} x{i} y{i}") for i in range(40)] + [
        (1000 + i, " ".join(f"w{i}_{j}" for j in range(25))) for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=3, num_hashes=48, bands=12)
    guarded = {
        (r.id_a, r.id_b)
        for r in dd.minhash_candidate_pairs(docs, max_bucket=256, **kw).collect()
    }
    unguarded = {
        (r.id_a, r.id_b)
        for r in dd.minhash_candidate_pairs(docs, max_bucket=None, **kw).collect()
    }
    assert guarded == unguarded


def test_ingest_star_guard_keeps_suppressing_hot_index_family(spark):
    """`dedup_against_index` with a hot INDEX bucket: the star guard
    collapses the bucket to its hub, so an incoming near-dup of the
    family is still SUPPRESSED — the old drop guard admitted the whole
    flood (the failure mode a dedup gate must not have)."""
    from geoscan_fraud_spark.operators.incremental import (
        dedup_against_index,
        minhash_index,
    )

    indexed = spark.createDataFrame(
        [(i, f"{HOT} tail{i} x{i} y{i}") for i in range(400)],
        "doc_id long, text string",
    )
    index = minhash_index(indexed, n=3, num_hashes=48)
    batch = spark.createDataFrame(
        [(9000, f"{HOT} tail9000 x9000 y9000"),  # family near-dup
         (9001, " ".join(f"fresh{j}" for j in range(25)))],  # genuinely new
        "doc_id long, text string",
    )
    kept = {
        r.doc_id
        for r in dedup_against_index(
            batch, index, n=3, num_hashes=48, bands=12, threshold=0.5,
            max_bucket=50,
        ).select("doc_id").collect()
    }
    assert kept == {9001}  # flood member suppressed, new doc admitted
    # the old drop guard admits the flood member — pin the contrast so a
    # regression back to drop semantics is loud
    from geoscan_fraud_spark.operators import dedup as dd

    nb = dd._cap_buckets(
        spark.createDataFrame([(1, 1, i) for i in range(60)], "band int, bh int, id int"),
        ["band", "bh"], 50,
    )
    assert nb.count() == 0  # drop removes the whole hot bucket


def test_ingest_star_guard_batch_internal_flood(spark):
    """A batch-internal near-dup flood larger than the cap still
    collapses to one kept member through the hub edges."""
    from geoscan_fraud_spark.operators.incremental import (
        dedup_against_index,
        minhash_index,
    )

    index = minhash_index(
        spark.createDataFrame(
            [(0, " ".join(f"old{j}" for j in range(25)))],
            "doc_id long, text string",
        ),
        n=3, num_hashes=48,
    )
    batch = spark.createDataFrame(
        [(i, f"{HOT} tail{i} a{i} b{i}") for i in range(300)]
        + [(5000, " ".join(f"new{j}" for j in range(25)))],
        "doc_id long, text string",
    )
    kept = {
        r.doc_id
        for r in dedup_against_index(
            batch, index, n=3, num_hashes=48, bands=12, threshold=0.5,
            max_bucket=50,
        ).select("doc_id").collect()
    }
    assert kept == {0, 5000}  # flood -> its min-id member + the new doc


def test_ingest_guard_inactive_below_cap(spark):
    """Guarded (default 256) == unguarded on small buckets —
    bit-identical kept sets."""
    from geoscan_fraud_spark.operators.incremental import (
        dedup_against_index,
        minhash_index,
    )

    indexed = spark.createDataFrame(
        [(i, f"{HOT} tail{i} x{i} y{i}") for i in range(30)],
        "doc_id long, text string",
    )
    index = minhash_index(indexed, n=3, num_hashes=48)
    batch = spark.createDataFrame(
        [(100 + i, f"{HOT} tail{100+i} x{100+i} y{100+i}") for i in range(10)]
        + [(500 + i, " ".join(f"n{i}_{j}" for j in range(25))) for i in range(5)],
        "doc_id long, text string",
    )
    kw = dict(n=3, num_hashes=48, bands=12, threshold=0.5)
    kept_g = {
        r.doc_id
        for r in dedup_against_index(batch, index, max_bucket=256, **kw)
        .select("doc_id").collect()
    }
    kept_u = {
        r.doc_id
        for r in dedup_against_index(batch, index, max_bucket=None, **kw)
        .select("doc_id").collect()
    }
    assert kept_g == kept_u


def test_stale_generation_read_keeps_partition_pruning(spark, tmp_path):
    """The MVCC snapshot handle must not cost the read its scale
    property: a query planned against RETIRED gen-0 metadata (while gen
    1 is live) still pushes the static ``list_id IN (...)`` probe filter
    into the stale generation's file listing — snapshot isolation with
    the same pruned scan, not a fallback full read."""
    import re

    from geoscan_fraud_spark.operators.similarity import ivf_index_query

    rows = [(i, [float((i * 7) % 13), float(i % 5), 1.0]) for i in range(80)]
    cent = lloyd_centroids(np.array([v for _, v in rows]), 8)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    ivf_index_write(df, path, centroids=cent)
    gen0 = read_index_meta(path + "/centroids.json")
    ivf_index_compact(spark, path)  # flip to gen 1; gen 0 now stale

    out = ivf_index_query(
        df.filter(F.col("vec_id") == 0), path, k=3, nprobe=2, meta=gen0
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[list_id[^\]]*IN", plan), plan[:800]
    # and the scan reads the STALE generation's bare directory, not .g1
    files = [f for f in out.inputFiles() if "/lists" in f]
    assert files and all("/lists/" in f for f in files), files[:5]
    assert not any("lists.g1" in f for f in files)


# --------------------------------------------------- span-store pending flag


def test_dedup_span_store_pending_flag(spark):
    from geoscan_fraud_spark.operators.spans import dedup_span_store

    rows = spark.createDataFrame(
        [(-1, 10, 2, 1), (-3, 10, 2, 1), (5, 11, 1, None)],
        "batch_id int, gh long, cnt bigint, src_batch int",
    )
    # None: in-plan detection drops the superseded base rows
    assert dedup_span_store(rows).count() == 2
    # True: caller says a publish is pending — same result, no detection
    assert dedup_span_store(rows, pending=True).count() == 2
    # False: caller (the sink, post-heal) asserts no publish dir exists;
    # base rows are kept as-is
    clean = spark.createDataFrame(
        [(-1, 10, 2, 1), (5, 11, 1, None)],
        "batch_id int, gh long, cnt bigint, src_batch int",
    )
    assert dedup_span_store(clean, pending=False).count() == 2
