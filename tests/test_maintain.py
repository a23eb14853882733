"""VERDICT r09 #2 — one-call `maintain()` ops runbooks: the doctor trio
(`index_fsck` on either serving index, `store_fsck`) reports; these ACT.
A planted crashed/accreted/orphaned index must return to clean via ONE
call, and `prepared_serving_sink(maintain_every_n=...)` runs the runbooks
on cadence inside the streaming sink."""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.retrieval import (
    text_index_append,
    text_index_query,
    text_index_write,
)
from geoscan_fraud_spark.operators.similarity import (
    ivf_index_append,
    ivf_index_query,
    ivf_index_write,
    lloyd_centroids,
)
from geoscan_fraud_spark.sources.io import (
    index_delete,
    index_maintain,
    list_index_generations,
    read_index_meta,
    store_maintain,
)

HOST = socket.gethostname()


def _dead_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


DOCS = [
    (0, "alpha beta gamma"),
    (1, "alpha delta"),
    (2, "beta beta gamma delta"),
    (3, "gamma delta epsilon"),
    (4, "epsilon zeta alpha"),
    (5, "zeta zeta beta"),
]
SCHEMA = "doc_id long, text string"


def test_text_index_maintain_one_call(spark, tmp_path):
    """Crashed metadata commit + dead writer lock + append accretion +
    pending takedown + orphaned generation — ONE maintain call returns
    the index to a clean, correct serving state."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, SCHEMA)
    text_index_write(docs.filter(F.col("doc_id") < 3), path, n_buckets=4)
    for i in range(3, 6):
        text_index_append(docs.filter(F.col("doc_id") == i), path)
    # plant: orphaned tmp, dead-holder lock, pending takedown, orphan gen
    with open(path + "/stats.json.tmp", "w") as f:
        f.write('{"half')
    index_delete(spark, path, [1])
    with open(path + "/.writer.lock", "w") as f:
        f.write(f"pid={_dead_pid()} host={HOST} op=crashed token=tttt")
    os.makedirs(path + "/postings.g7")  # crashed, never-published orphan

    report = index_maintain(spark, path, compact_after=3)

    assert report["status"] == "ok" and report["fsck"]["findings"] == []
    healed = " ".join(report["healed"])
    assert "stats.json.tmp" in healed and "writer lock" in healed
    assert report["compacted"] is True
    assert "postings.g7" in report["vacuumed"]  # orphan removed
    assert "postings" in report["vacuumed"]  # retired gen 0 removed
    # post-maintain index serves the survivor corpus exactly
    ref = str(tmp_path / "ref")
    text_index_write(docs.filter(F.col("doc_id") != 1), ref, n_buckets=4)
    qs = [("q1", "alpha beta")]
    got = {tuple(r) for r in text_index_query(spark, path, qs, k=5).collect()}
    want = {tuple(r) for r in text_index_query(spark, ref, qs, k=5).collect()}
    assert got == want
    # idempotent: a second call heals nothing, compacts nothing
    report2 = index_maintain(spark, path, compact_after=3)
    assert report2["healed"] == [] and report2["compacted"] is False
    assert report2["vacuumed"] == [] and report2["status"] == "ok"


def test_maintain_sweeps_dead_acquire_debris(spark, tmp_path):
    """A crashed acquire's pre-link claim file and a crashed stealer's
    sentinel are inert debris; maintain removes them when their recorded
    owner provably died, and leaves live owners' files alone."""
    path = str(tmp_path / "idx")
    text_index_write(spark.createDataFrame(DOCS, SCHEMA), path, n_buckets=4)
    dead = f"pid={_dead_pid()} host={HOST} op=x token=dddd"
    live = f"pid={os.getpid()} host={HOST} op=x token=llll"
    with open(path + "/.writer.lock.claim-999-abcd", "w") as f:
        f.write(dead)
    with open(path + "/.writer.lock.steal-cafecafecafe", "w") as f:
        f.write(dead)
    with open(path + "/.writer.lock.claim-1-live", "w") as f:
        f.write(live)
    report = index_maintain(spark, path)
    swept = [h for h in report["healed"] if "debris" in h]
    assert len(swept) == 2
    assert not os.path.exists(path + "/.writer.lock.claim-999-abcd")
    assert not os.path.exists(path + "/.writer.lock.steal-cafecafecafe")
    assert os.path.exists(path + "/.writer.lock.claim-1-live")  # live owner
    os.unlink(path + "/.writer.lock.claim-1-live")


def test_text_index_maintain_refuses_live_foreign_lock(spark, tmp_path):
    """A live or foreign holder is NOT healed — the compaction behind it
    refuses loudly (the correct escalation, not a silent steal)."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(DOCS, SCHEMA)
    text_index_write(docs, path, n_buckets=4)
    index_delete(spark, path, [1])  # forces a compaction attempt
    with open(path + "/.writer.lock", "w") as f:
        f.write("pid=1 host=elsewhere op=remote token=uuuu")
    with pytest.raises(ValueError, match="writer is active"):
        index_maintain(spark, path)
    assert os.path.exists(path + "/.writer.lock")  # untouched


def _vecs(n, id0=0):
    return [
        (id0 + i, [float((i * 7) % 13), float((i * 3) % 5), 1.0])
        for i in range(n)
    ]


def test_ivf_index_maintain_one_call(spark, tmp_path):
    path = str(tmp_path / "ivf")
    rows = _vecs(60)
    cent = lloyd_centroids(np.array([v for _, v in rows]), 4)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf_index_write(df, path, centroids=cent)
    for i in range(3):
        ivf_index_append(
            spark.createDataFrame(
                _vecs(10, id0=100 + 10 * i),
                "vec_id long, embedding array<double>",
            ),
            path,
        )
    with open(path + "/centroids.json.tmp", "w") as f:
        f.write('{"half')
    index_delete(spark, path, [100, 101])
    with open(path + "/.writer.lock", "w") as f:
        f.write(f"pid={_dead_pid()} host={HOST} op=crashed token=vvvv")
    os.makedirs(path + "/lists.g9")

    report = index_maintain(spark, path, compact_after=3)

    assert report["status"] == "ok" and report["fsck"]["findings"] == []
    healed = " ".join(report["healed"])
    assert "centroids.json.tmp" in healed and "writer lock" in healed
    assert report["compacted"] is True
    assert "lists.g9" in report["vacuumed"]
    assert "lists" in report["vacuumed"]
    # tombstones applied physically; the deleted ids never come back
    q = spark.createDataFrame(
        [(999, [0.0, 1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    res = ivf_index_query(q, path, k=60, nprobe=4, exclude_self=False)
    ids = {r["vec_id"] for r in res.collect()}
    assert 100 not in ids and 101 not in ids and 102 in ids
    report2 = index_maintain(spark, path, compact_after=3)
    assert report2["healed"] == [] and report2["compacted"] is False
    assert report2["vacuumed"] == [] and report2["status"] == "ok"


def test_store_maintain_one_call(spark, tmp_path):
    """Crashed publish-then-retire + accreted batch dirs return to a
    clean compacted base in one call."""
    store = str(tmp_path / "store")
    for b in range(5):
        spark.createDataFrame(
            [(b * 10 + i, b * 100 + i) for i in range(4)], "id long, sig long"
        ).write.mode("overwrite").parquet(f"{store}/batch_id={b}")
    # plant a crashed publish: folds [0, 1] published to batch_id=-3 but
    # the retire never ran (source dirs still present)
    pending = f"{store}/batch_id=-3"
    spark.read.option("basePath", store).parquet(
        f"{store}/batch_id=0", f"{store}/batch_id=1"
    ).select(
        "id", "sig", F.col("batch_id").cast("int").alias("src_batch")
    ).write.mode("overwrite").parquet(pending)
    with open(pending + "/_folded.json", "w") as f:
        json.dump({"folds": [0, 1]}, f)

    report = store_maintain(spark, store, compact_after=2)

    assert report["healed"] is True  # pending publish finished
    assert report["compacted"] > 0  # 3 live dirs > 2 -> folded
    assert report["status"] == "ok" and report["fsck"]["findings"] == []
    # every row of every batch survived heal + fold exactly once
    rows = spark.read.option("mergeSchema", "true").parquet(store)
    assert rows.count() == 20 and rows.select("id").distinct().count() == 20
    report2 = store_maintain(spark, store, compact_after=2)
    assert report2["healed"] is False and report2["compacted"] == 0


def test_serving_sink_maintain_every_n(spark, tmp_path):
    """`prepared_serving_sink(maintain_every_n=2)`: after batch 2
    commits, both serving indexes have been compacted (generation
    bumped, append accretion folded) and the dedup store fsck is clean —
    the runbooks ran inside the sink."""
    from geoscan_fraud_spark.streaming.scoring import prepared_serving_sink

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    tidx = str(tmp_path / "tidx")
    vidx = str(tmp_path / "vidx")
    docs = spark.createDataFrame(
        [
            (i, f"document number {i} with several useful tokens inside",
             [float(i % 3), float(i % 5), 1.0])
            for i in range(30)
        ],
        "doc_id long, text string, embedding array<double>",
    )
    text_index_write(docs.filter(F.col("doc_id") < 10), tidx, n_buckets=4)
    cent = lloyd_centroids(
        np.array([r["embedding"] for r in docs.limit(10).collect()]), 2
    )
    ivf_index_write(
        docs.filter(F.col("doc_id") < 10), vidx,
        centroids=cent, emb_col="embedding", id_col="doc_id",
    )
    sink = prepared_serving_sink(
        store, out,
        text_index_path=tidx, ann_index_path=vidx,
        emb_col="embedding",
        maintain_every_n=2, maintain_compact_after=1,
        quality_rules={"min_len": F.col("n_tokens") >= 1},
    )
    sink(docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)), 1)
    g_before = int(read_index_meta(tidx + "/stats.json")["gen"])
    sink(docs.filter(F.col("doc_id") >= 20), 2)  # triggers maintain
    t_meta = read_index_meta(tidx + "/stats.json")
    v_meta = read_index_meta(vidx + "/centroids.json")
    assert int(t_meta["gen"]) > g_before  # compaction published a new gen
    assert int(v_meta["gen"]) > 0
    # vacuum ran: only the live generation remains on disk
    assert list_index_generations(tidx, ["postings"])["postings"] == [
        int(t_meta["gen"])
    ]
    assert list_index_generations(vidx, ["lists"])["lists"] == [
        int(v_meta["gen"])
    ]
    # and the indexes serve all 30 docs' worth of state
    assert t_meta["n_docs"] == 30
