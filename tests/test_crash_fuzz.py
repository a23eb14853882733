"""Crash-injection fuzz over the serving-index lifecycles.

The planted-state tests (test_maintain, test_serving_lifecycle) check
KNOWN torn states; this file instead injects a crash at EVERY metadata
commit point a lifecycle passes through and asserts the documented
recovery contract end-to-end:

    crash anywhere -> retry the interrupted op -> maintain() ->
    index serves byte-identically to a never-crashed twin, fsck clean.

Injection faults `atomic_write_json` — the single funnel every durable
pointer flip goes through (`sources/io.py:473`) — on its N-th call, for
every N the clean run performs. A crash BEFORE a commit must leave the
prior snapshot intact (plus inert debris maintain sweeps); the rows a
half-done op already wrote must be healed by the replay guard + the
compaction distinct() exactly as the append/compact docstrings promise.
The retry uses the SAME ``src_batch`` a real pipeline would replay with.

The IVF side runs with PQ enabled, so codebook metadata, codes columns,
and the ADC serving tier ride through every crash window too.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import geoscan_fraud_spark.operators.retrieval as retrieval
import geoscan_fraud_spark.operators.similarity as similarity
import geoscan_fraud_spark.sources.io as io
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
    ivf_index_write,
)
from geoscan_fraud_spark.sources.io import (
    index_delete,
    index_fsck,
    index_maintain,
)


class _InjectedCrash(RuntimeError):
    pass


#: modules that bound `atomic_write_json` by name at import; the fault
#: must patch every binding or a commit sneaks through un-faulted
_PATCH_SITES = (io, retrieval, similarity)


class _Injector:
    """Counts `atomic_write_json` calls; raises on call `boom_at` (1-based;
    None = count only)."""

    def __init__(self, boom_at=None):
        self.calls = 0
        self.boom_at = boom_at
        self._real = io.atomic_write_json

    def __call__(self, path, obj):
        self.calls += 1
        if self.boom_at is not None and self.calls == self.boom_at:
            raise _InjectedCrash(f"injected at commit #{self.calls}: {path}")
        return self._real(path, obj)

    def __enter__(self):
        for m in _PATCH_SITES:
            m.atomic_write_json = self
        return self

    def __exit__(self, *exc):
        for m in _PATCH_SITES:
            m.atomic_write_json = self._real
        return False


def _run_lifecycle(steps, boom_at=None):
    """Run the step list under injection. Returns (commit_calls,
    crashed_step). On an injected crash the interrupted step is retried
    ONCE un-faulted (what a real pipeline's task retry does) and the
    remaining steps run to completion."""
    with _Injector(boom_at) as inj:
        for i, step in enumerate(steps):
            try:
                step()
            except _InjectedCrash:
                for m in _PATCH_SITES:  # un-fault for retry + remainder
                    m.atomic_write_json = inj._real
                step()
                for later in steps[i + 1 :]:
                    later()
                return inj.calls, i
    return inj.calls, None


DOCS = [
    (0, "alpha beta gamma"),
    (1, "alpha delta"),
    (2, "beta beta gamma delta"),
    (3, "gamma delta epsilon"),
    (4, "epsilon zeta alpha"),
    (5, "zeta zeta beta"),
    (6, "alpha epsilon beta beta"),
    (7, "delta zeta gamma"),
]
SCHEMA = "doc_id long, text string"
QUERIES = [("q1", "alpha beta"), ("q2", "gamma zeta")]


def _text_steps(spark, docs, path):
    return [
        lambda: text_index_write(
            docs.filter(F.col("doc_id") < 4), path, n_buckets=4
        ),
        lambda: text_index_append(
            docs.filter(F.col("doc_id") >= 4), path, src_batch=1
        ),
        lambda: index_delete(spark, path, [1, 6]),
        lambda: text_index_compact(spark, path),
    ]


def _text_serve(spark, path):
    return sorted(
        tuple(r) for r in text_index_query(spark, path, QUERIES, k=5).collect()
    )


def test_text_index_crash_fuzz(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, SCHEMA)
    twin = str(tmp_path / "twin")
    total, crashed = _run_lifecycle(_text_steps(spark, docs, twin))
    # build/append/compact each flip metadata; delete commits via a
    # parquet append alone (Spark's committer covers that tear)
    assert crashed is None and total >= 3
    want = _text_serve(spark, twin)

    for n in range(1, total + 1):
        path = str(tmp_path / f"crash{n}")
        _, step = _run_lifecycle(_text_steps(spark, docs, path), boom_at=n)
        assert step is not None, f"commit #{n} fired outside every step?"
        report = index_maintain(spark, path, compact_after=1)
        assert report["status"] == "ok", (n, step, report)
        assert index_fsck(spark, path)["findings"] == []
        assert _text_serve(spark, path) == want, (
            f"crash at commit #{n} (step {step}) diverged after heal"
        )


def _mk_emb(spark):
    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.randn(16)]) for i in range(60)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ivf_steps(spark, emb, path):
    return [
        lambda: ivf_index_write(
            emb.filter(F.col("vec_id") % 2 == 0), path,
            n_centroids=2, pq_m=4, pq_k=8, pq_train_rows=30,
            pq_residual=True,
        ),
        lambda: ivf_index_append(
            emb.filter(F.col("vec_id") % 2 == 1), path, src_batch=1
        ),
        lambda: index_delete(
            spark, path, emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
        ),
        lambda: ivf_index_compact(spark, path),
    ]


def _ivf_serve(spark, emb, path):
    q = emb.filter(F.col("vec_id") < 3)
    return sorted(
        tuple(r)
        for r in ivf_index_query(
            q, path, k=5, nprobe=2, rerank=100, rerank_corpus=emb
        ).collect()
    )


def test_ivf_pq_index_crash_fuzz(spark, tmp_path):
    emb = _mk_emb(spark)
    twin = str(tmp_path / "twin")
    total, crashed = _run_lifecycle(_ivf_steps(spark, emb, twin))
    assert crashed is None and total >= 3
    want = _ivf_serve(spark, emb, twin)

    for n in range(1, total + 1):
        path = str(tmp_path / f"crash{n}")
        _, step = _run_lifecycle(_ivf_steps(spark, emb, path), boom_at=n)
        assert step is not None
        report = index_maintain(spark, path, compact_after=1)
        assert report["status"] == "ok", (n, step, report)
        assert index_fsck(spark, path)["findings"] == []
        assert _ivf_serve(spark, emb, path) == want, (
            f"crash at commit #{n} (step {step}) diverged after heal"
        )


def test_store_publish_crash_fuzz(spark, tmp_path):
    """Third target, different injection point: the incremental dedup
    store's publish-then-retire commits through os.rename/shutil.rmtree
    (no JSON pointer), so the fault goes into THOSE calls — at every
    filesystem mutation `_publish_folded_base` performs. The invariant
    under test is the asymmetric one the design names: rows may be
    transiently DUPLICATED at any crash point, never missing; and one
    `store_maintain` call converges to the same distinct signature set
    as a never-crashed twin."""
    import os as _os
    import shutil as _shutil

    from geoscan_fraud_spark.sources.io import compact_index, store_fsck, store_maintain

    def build(store):
        for b in range(5):
            spark.createDataFrame(
                [(b * 10 + i, (b * 10 + i) % 17) for i in range(6)],
                "id long, sig long",
            ).write.mode("overwrite").parquet(f"{store}/batch_id={b}")

    def content(store):
        return {
            (r["id"], r["sig"])
            for r in spark.read.option("mergeSchema", "true")
            .parquet(store)
            .select("id", "sig")
            .distinct()
            .collect()
        }

    twin = str(tmp_path / "twin")
    build(twin)
    pre = content(twin)
    compact_index(spark, twin, keep_last=1)
    want = content(twin)
    assert want == pre  # the fold itself loses nothing

    class _Counter:
        def __init__(self, boom_at=None):
            self.calls, self.boom_at = 0, boom_at
            self._rename, self._rmtree = _os.rename, _shutil.rmtree

        def _tick(self):
            self.calls += 1
            if self.boom_at is not None and self.calls == self.boom_at:
                raise _InjectedCrash(f"fs mutation #{self.calls}")

        def __enter__(self):
            def rename(src, dst):
                self._tick()
                return self._rename(src, dst)

            def rmtree(p, **kw):
                self._tick()
                return self._rmtree(p, **kw)

            _os.rename, _shutil.rmtree = rename, rmtree
            return self

        def __exit__(self, *exc):
            _os.rename, _shutil.rmtree = self._rename, self._rmtree
            return False

    count = str(tmp_path / "count")
    build(count)
    with _Counter() as c:
        compact_index(spark, count, keep_last=1)
    total = c.calls
    assert total >= 3  # publish rename + >=1 retire rmtree + final rename

    for n in range(1, total + 1):
        store = str(tmp_path / f"crash{n}")
        build(store)
        try:
            with _Counter(boom_at=n):
                compact_index(spark, store, keep_last=1)
            crashed = False
        except _InjectedCrash:
            crashed = True
        assert crashed, f"fs mutation #{n} never fired?"
        # rows are never transiently missing, even BEFORE the heal
        assert content(store) == want, f"rows missing at crash point {n}"
        report = store_maintain(spark, store, compact_after=1)
        assert report["status"] == "ok", (n, report)
        assert store_fsck(spark, store)["findings"] == []
        assert content(store) == want, f"divergence after heal at {n}"


# ---------------------------------------------------------------------------
# writer-lock steal machinery under injected crashes (VERDICT r10 #6)
# ---------------------------------------------------------------------------
#
# The metadata fuzz above faults the COMMIT funnel; this section faults
# the LOCK funnel: every os.link (claim), os.unlink (release / steal),
# and sentinel os.open the acquire/steal path performs, with two live
# contenders and a planted provably-dead holder. A faulted contender
# dies with os._exit — a TRUE crash: no finally blocks, no cleanup, its
# pid provably gone afterwards — so the residue (orphan lock, claim, or
# steal sentinel) is exactly what a killed writer leaves. Invariants:
#
#   * never two concurrent critical sections (shared counter);
#   * never a permanently wedged lock (the parent must acquire after
#     the dust settles — every residue class is auto-reclaimed).


def _dead_pid_fuzz() -> int:
    import subprocess
    import sys as _sys

    p = subprocess.Popen([_sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


def _lock_contender(path, boom_at, inside, errs, iters):
    """Runs in a FORKED child. Faults its boom_at-th lock-path fs
    primitive by dying on the spot (os._exit — no cleanup, the real
    crash semantics the steal machinery must recover from)."""
    import os as _os
    import time as _time

    import geoscan_fraud_spark.sources.io as _io

    calls = {"n": 0}
    real_link, real_unlink, real_open = _os.link, _os.unlink, _os.open

    def _is_lock_path(p) -> bool:
        return isinstance(p, (str, bytes)) and ".writer.lock" in str(p)

    def _boom_if(p):
        if _is_lock_path(p):
            calls["n"] += 1
            if boom_at is not None and calls["n"] == boom_at:
                _os._exit(17)  # crash exactly at this primitive

    def link(src, dst, **kw):
        _boom_if(dst)
        return real_link(src, dst, **kw)

    def unlink(p, **kw):
        _boom_if(p)
        return real_unlink(p, **kw)

    def open_(p, flags, *a, **kw):
        if flags & _os.O_CREAT:
            _boom_if(p)
        return real_open(p, flags, *a, **kw)

    _os.link, _os.unlink, _os.open = link, unlink, open_
    try:
        for _ in range(iters):
            for _attempt in range(400):
                try:
                    with _io.index_writer_lock(path, "fuzz"):
                        with inside.get_lock():
                            inside.value += 1
                            if inside.value != 1:
                                errs.value += 1
                        _time.sleep(0.004)
                        with inside.get_lock():
                            inside.value -= 1
                    break
                except ValueError:
                    # live-holder refusal — the documented contention
                    # answer; a finite retry loop stands in for the
                    # scheduler
                    _time.sleep(0.005)
            else:
                errs.value += 100  # starved: treat as a wedge
    finally:
        _os._exit(0)


def _run_lock_fuzz(tmp_path, tag, boom_a, boom_b):
    import multiprocessing as mp
    import os

    import geoscan_fraud_spark.sources.io as io_mod

    ctx = mp.get_context("fork")
    path = str(tmp_path / f"lk_{tag}")
    os.makedirs(path, exist_ok=True)
    # plant a provably-dead holder so the very first acquire must steal
    import socket as _socket

    with open(os.path.join(path, ".writer.lock"), "w") as f:
        f.write(
            f"pid={_dead_pid_fuzz()} host={_socket.gethostname()} "
            f"op=planted token=dead"
        )
    inside = ctx.Value("i", 0)
    errs = ctx.Value("i", 0)
    procs = [
        ctx.Process(
            target=_lock_contender, args=(path, boom, inside, errs, 3)
        )
        for boom in (boom_a, boom_b)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(60)
        assert not p.is_alive(), "contender hung — wedged lock"
    # a faulted contender must actually die at its injected point (each
    # clean pass makes >= 9 lock-path calls, so boom_at <= 6 always
    # fires); a clean contender must finish
    for p, boom in zip(procs, (boom_a, boom_b)):
        assert p.exitcode == (17 if boom is not None else 0), (
            tag, boom, p.exitcode
        )
    assert errs.value == 0, (
        f"mutual exclusion violated (or starvation) at {tag}: {errs.value}"
    )
    # never permanently wedged: whatever residue the crashes left (an
    # orphan lock with a dead pid, a claim file, a dead stealer's
    # sentinel), a fresh writer must get through on its own
    with io_mod.index_writer_lock(path, "post-fuzz"):
        pass
    # the crashes may leave inert debris (a dead child's claim file or
    # steal sentinel); the heal half of the maintain runbook names and
    # removes it, after which the lock dir is pristine
    io_mod.heal_index_artifacts(path, "stats.json")
    assert [
        f
        for f in os.listdir(path)
        if ".steal-" in f or ".claim-" in f or f == ".writer.lock"
    ] == []


def test_lock_steal_fuzz_single_faulted_contender(tmp_path):
    """Sweep the crash point through contender A's first six lock-path
    primitives (claim link, acquire link, release unlink, steal
    sentinel create, steal unlinks — whichever the interleaving
    reaches) while B runs clean against the same lock."""
    for n in range(1, 7):
        _run_lock_fuzz(tmp_path, f"a{n}", n, None)


def test_lock_steal_fuzz_both_contenders_faulted(tmp_path):
    """Both contenders die mid-protocol at different points — the
    double-crash residue (two claims / lock + sentinel combinations)
    must still be reclaimable by the next writer."""
    for na, nb in [(1, 2), (2, 4), (3, 3), (4, 1)]:
        _run_lock_fuzz(tmp_path, f"ab{na}{nb}", na, nb)
