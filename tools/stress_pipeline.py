"""Empirical scale validation for the LLM-pipeline headline family
(VERDICT r08 #5): measure wall-time-vs-rows curves instead of only
arguing the plan shapes.

The corpus is the sf documents/embeddings fixture concatenated k times
with REMAPPED ids and PER-COPY-PERTURBED content (every token gets a
copy suffix; embeddings get a per-copy affine nudge), so copy i is
neither an exact nor a near duplicate of copy j — the workload is k
independent shards of the same distribution, i.e. linear by
construction. Whether the RUNTIME stays linear is what this measures:
the log-log slope across the scale ladder is fitted per op and anything
super-linear (slope > the flag threshold, default 1.35 — generous
because single-run local timings are noisy and every op carries a
fixed per-job scheduling floor that makes small scales look cheap) is
flagged loudly and in the JSON.

Ops covered (the VERDICT list):
  dedup_minhash_xxhash64   - banded MinHash near-dup end-to-end
  remove_repeated_spans    - one-shot ExactSubstr-style span removal
  text_index_append        - BM25 serving-index ingest (batch-only work)
  text_index_query         - bucket-pruned BM25 serving read
  text_index_compact       - MVCC generation publish (fold + df rebuild
                             + stats recompute + atomic pointer flip);
                             works over seed + batch, so the recorded
                             batch-rows slope is conservative (a fixed
                             seed offset only flattens it)
  ivf_index_append         - ANN serving-index ingest (map-only assign)
  ivf_index_query          - probe-pruned ANN serving read
  ivf_pq_index_query       - the same read through the PQ/ADC tier (r10)
  ivf_index_compact        - MVCC generation publish for the lists
  prepared_serving_sink    - the whole gate->dedup->store->serve batch
  dedup_incremental_gate   - per-batch near-dup suppression vs a k-scaled
                             signature index (the r10 star-guarded read
                             side of the streaming ingest gate)
  dedup_incremental_gate_bigstore - the same gate vs a DISK-backed
                             synthetic signature store scaled to >= 10^6
                             rows with the BATCH FIXED (VERDICT r10 #8:
                             the 40k-row rung could not distinguish
                             O(store) from O(batch) read cost — this one
                             can: before the r11 batch-touched-bucket
                             prune the per-batch wall tracked the store
                             size through two store-wide shuffles; after
                             it, only the map-only store scan grows)

Skew rungs (VERDICT r09 #4): the uniform ladder is workload-linear by
construction, so it cannot catch hot-KEY collapse. A second ladder
plants a zipf-ish hot family at ~20% of rows — one near-duplicate text
family (one MinHash band-bucket family AND one hot posting term) and
one hot IVF list — and re-times `dedup_minhash_xxhash64`,
`text_index_query`, `ivf_index_query` as ``*_skew`` entries. Recorded
per skew op, flagged when out of bounds:
  slope        - same log-log fit as the uniform ladder (> 1.35 flags);
  skew_ratio   - skewed wall / uniform wall at the SAME rung (max over
                 rungs; > 4.0 flags). This is the collapse observable:
                 a hot key serializing 20% of the work onto one slot
                 balloons wall time relative to the uniform twin, while
                 the hot-bucket max_bucket guards / bucket layout / AQE
                 keep it bounded.
  max_task_ratio - best-effort max/median task runtime over the op's
                 stages (UI REST API; null when unavailable). Recorded
                 to make the planted skew VISIBLE (expected ~hot_share *
                 task_slots when a single key cannot split further) —
                 informational, not flagged, because wall time is what
                 measures whether skew is HANDLED; max/median measures
                 only whether it EXISTS.

Usage:
  python tools/stress_pipeline.py [sf_dir] [scales] [out_json]
  python tools/stress_pipeline.py /root/testdata/sf0.1 1,2,4 BENCH_scale.json

Writes one JSON object (also printed): per op, the row counts, seconds,
fitted slope, and a superlinear flag.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

# not tools/: its profile.py would shadow the stdlib one pyspark imports
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FLAG_SLOPE = 1.35
#: skewed wall / uniform wall at the same rung above this flags
#: hot-key collapse (generous: local single-run timings are noisy and a
#: 20%-hot family legitimately costs a little more than uniform)
SKEW_RATIO_BOUND = 4.0


def scaled_docs(spark, sf_dir: str, k: int):
    """k near-independent copies of the documents fixture: ids remapped
    by a copy offset, every token suffixed with the copy index (kills
    cross-copy shingle/gram/term overlap while keeping each copy's
    internal statistics — including its planted repeats — intact)."""
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.sources.io import load_fixture

    base = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    parts = []
    for i in range(k):
        tagged = F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda w: F.concat(w, F.lit(f"~{i}")),
            ),
        )
        parts.append(
            base.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                tagged.alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_emb(spark, sf_dir: str, k: int):
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.sources.io import load_fixture

    base = load_fixture(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    parts = []
    for i in range(k):
        nudged = F.transform(
            F.col("embedding"),
            lambda x: x * F.lit(1.0 + 0.003 * i) + F.lit(0.01 * i),
        )
        parts.append(
            base.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                nudged.alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: the text planted into every hot doc: shared shingles put the whole
#: family into the same MinHash band buckets (near-dup, not exact — a
#: unique tail token is appended per doc) and `hotterm` concentrates 20%
#: of all postings into one term bucket
HOT_TEMPLATE = (
    "hotterm alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
)


def skewed_docs(spark, sf_dir: str, k: int):
    """`scaled_docs` with a planted hot family: every 5th doc's text is
    REPLACED by the shared template plus a per-doc unique tail (near-dup
    family, one hot posting term), across ALL copies — a global zipf
    head the content-disjoint uniform ladder cannot produce."""
    from pyspark.sql import functions as F

    base = scaled_docs(spark, sf_dir, k)
    hot = F.col("doc_id") % 5 == 0
    return base.select(
        "doc_id",
        F.when(
            hot,
            F.concat(
                F.lit(HOT_TEMPLATE + " u"), F.col("doc_id").cast("string")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def skewed_emb(spark, sf_dir: str, k: int):
    """`scaled_emb` with every 5th vector collapsed onto one direction
    (~[10, 10, ...] plus a per-id first-coordinate nudge so rows stay
    distinct) — the whole hot family lands in ONE inverted list."""
    from pyspark.sql import functions as F

    base = scaled_emb(spark, sf_dir, k)
    hot = F.col("vec_id") % 5 == 0
    hot_vec = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(
            i == 0,
            F.lit(10.0) + (F.col("vec_id") % 97).cast("double") * F.lit(1e-4),
        ).otherwise(F.lit(10.0)),
    )
    return base.select(
        "vec_id",
        F.when(hot, hot_vec).otherwise(F.col("embedding")).alias("embedding"),
    )


class TaskSkewProbe:
    """Best-effort max/median task-runtime ratio over the stages an op
    ran, via the Spark UI REST API (this tool enables the UI on its own
    session; the engine's default session keeps it off). Every failure
    path degrades to None — the probe is informational (see module
    docstring: wall time is the flagged observable, max/median only
    makes the planted skew visible)."""

    def __init__(self, spark):
        self._base = None
        try:
            url = spark.sparkContext.uiWebUrl
            app_id = spark.sparkContext.applicationId
            if url:
                self._base = f"{url}/api/v1/applications/{app_id}"
        except Exception:
            pass

    def measure(self, since_epoch_ms: float, min_max_task_ms: float = 250.0):
        """max over completed stages submitted after ``since`` of
        (max task runtime / median task runtime), ignoring stages whose
        max task is below ``min_max_task_ms`` (pure scheduling noise)."""
        if self._base is None:
            return None
        import json as _json
        import urllib.request
        from datetime import datetime

        def _ms(s):
            return datetime.strptime(
                s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
            ).timestamp() * 1000.0

        try:
            with urllib.request.urlopen(
                f"{self._base}/stages?status=complete", timeout=10
            ) as r:
                stages = _json.load(r)
            worst = None
            for st in stages:
                sub = st.get("submissionTime")
                if not sub or _ms(sub) < since_epoch_ms:
                    continue
                with urllib.request.urlopen(
                    f"{self._base}/stages/{st['stageId']}/"
                    f"{st['attemptId']}/taskSummary?quantiles=0.5,1.0",
                    timeout=10,
                ) as r:
                    q = _json.load(r)
                med, mx = q["executorRunTime"]
                if mx < min_max_task_ms or med <= 0:
                    continue
                ratio = mx / med
                worst = ratio if worst is None else max(worst, ratio)
            return round(worst, 2) if worst is not None else None
        except Exception:
            return None


class ShuffleBytesProbe:
    """Best-effort total shuffle read+write BYTES over the stages an op
    ran, via the same Spark UI REST API as `TaskSkewProbe` (VERDICT r11
    #4: the span-gate prune is a local-wall WASH because its 16-byte
    gram rows group-sum at RAM speed on one box — the observable that
    is NOT a wash is the bytes the store side would put on a cluster's
    wire, so record those). Degrades to None on any failure."""

    def __init__(self, spark):
        self._base = None
        try:
            url = spark.sparkContext.uiWebUrl
            app_id = spark.sparkContext.applicationId
            if url:
                self._base = f"{url}/api/v1/applications/{app_id}"
        except Exception:
            pass

    def measure(self, since_epoch_ms: float):
        """(shuffle_read_bytes, shuffle_write_bytes) summed over stages
        submitted after ``since``, or None."""
        if self._base is None:
            return None
        import json as _json
        import urllib.request
        from datetime import datetime

        def _ms(s):
            return datetime.strptime(
                s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
            ).timestamp() * 1000.0

        try:
            with urllib.request.urlopen(
                f"{self._base}/stages?status=complete", timeout=10
            ) as r:
                stages = _json.load(r)
            rd = wr = 0
            for st in stages:
                sub = st.get("submissionTime")
                if not sub or _ms(sub) < since_epoch_ms:
                    continue
                rd += int(st.get("shuffleReadBytes", 0))
                wr += int(st.get("shuffleWriteBytes", 0))
            return rd, wr
        except Exception:
            return None


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def fit_slope(rows: list[int], secs: list[float]) -> float:
    """Least-squares slope of log(sec) vs log(rows). Requires >= 2
    distinct row counts — a slope over one point is undefined."""
    xs = [math.log(r) for r in rows]
    ys = [math.log(max(s, 1e-6)) for s in secs]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    if denom == 0:
        raise ValueError(
            f"cannot fit a scaling slope over {sorted(set(rows))} — the "
            f"ladder needs at least two distinct scales"
        )
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    scales = (
        [int(s) for s in sys.argv[2].split(",")]
        if len(sys.argv) > 2
        else [1, 2, 4]
    )
    if len(set(scales)) < 2:
        # fail BEFORE minutes of measurement, not after (the slope fit
        # needs two distinct rungs)
        raise SystemExit(
            f"scale ladder {scales} has fewer than two distinct rungs — "
            f"pass e.g. 1,2,4"
        )
    out_json = sys.argv[3] if len(sys.argv) > 3 else None

    from pyspark.sql import functions as F

    from geoscan_fraud_spark import get_spark
    from geoscan_fraud_spark.operators import dedup as dd
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
    from geoscan_fraud_spark.operators.incremental import (
        dedup_against_index,
        minhash_index,
    )
    from geoscan_fraud_spark.operators.spans import remove_repeated_spans
    from geoscan_fraud_spark.sources.io import load_fixture
    from geoscan_fraud_spark.streaming.scoring import prepared_serving_sink

    # the UI is on ONLY here (engine default: off) — the TaskSkewProbe
    # reads per-stage task summaries from its REST API
    spark = get_spark(
        app_name="pipeline-stress",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4057"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM / parquet footers so scale-1 isn't paying cold costs
    load_fixture(spark, sf_dir, "documents").count()
    load_fixture(spark, sf_dir, "embeddings").count()

    results: dict[str, dict] = {}

    warmup = False

    def record(op: str, rows: int, sec: float, ratio: float | None = None):
        if warmup:
            print(f"  {op}: warm-up {sec:.2f}s (discarded)", flush=True)
            return
        r = results.setdefault(op, {"rows": [], "secs": []})
        r["rows"].append(rows)
        r["secs"].append(round(sec, 3))
        extra = ""
        if op.endswith("_skew"):
            r.setdefault("max_task_ratio", []).append(ratio)
            extra = f" (max/median task {ratio})"
        print(f"  {op}: {rows:,} rows -> {sec:.2f}s{extra}", flush=True)

    work = tempfile.mkdtemp(prefix="stress_pipeline_")
    try:
        # seed relations for the index paths: scale-1 content with ids
        # disjoint from every scaled batch (negative range)
        seed_docs = load_fixture(spark, sf_dir, "documents").select(
            (F.col("doc_id") - 50_000_000).alias("doc_id"), "text"
        )
        seed_emb = load_fixture(spark, sf_dir, "embeddings").select(
            (F.col("vec_id") - 50_000_000).alias("vec_id"), "embedding"
        )
        queries = [
            ("q1", "spark~0 join~0 window~0"),
            ("q2", "hash~0 merge~0 batch~0"),
            ("q3", "vector~1 stream~1 scan~1"),
            ("q4", "customer~0 table~0 value~0"),
            ("q5", "filter~1 sort~1 group~1"),
        ]

        # discarded warm-up ladder rung: the first execution of each op
        # pays JVM JIT + codegen + shuffle-service spin-up; without this
        # the smallest scale looks artificially slow and the fitted
        # slope is biased DOWN (a sub-linear mirage). Same pattern as
        # bench.py's discarded warm-up serial pass.
        for k in [None] + list(scales):
            warmup = k is None
            if warmup:
                k = scales[0]
                print(f"warm-up x{k} (discarded):", flush=True)
            else:
                print(f"scale x{k}:", flush=True)
            tag = "warm" if warmup else str(k)
            docs = scaled_docs(spark, sf_dir, k).persist()
            n_docs = docs.count()
            emb = scaled_emb(spark, sf_dir, k).persist()
            n_emb = emb.count()

            record(
                "dedup_minhash_xxhash64",
                n_docs,
                timed(
                    lambda: dd.minhash_dedup(
                        docs, threshold=0.5, n=3, num_hashes=48, bands=12
                    ).count()
                ),
            )
            record(
                "remove_repeated_spans",
                n_docs,
                timed(
                    lambda: remove_repeated_spans(docs, min_len=10)
                    .agg(F.sum("removed_tokens"))
                    .first()
                ),
            )

            tidx = f"{work}/text_idx_x{tag}"
            text_index_write(seed_docs, tidx, n_buckets=32)
            record(
                "text_index_append",
                n_docs,
                timed(lambda: text_index_append(docs, tidx)),
            )
            record(
                "text_index_query",
                n_docs,
                timed(
                    lambda: text_index_query(spark, tidx, queries, k=10).count()
                ),
            )
            record(
                "text_index_compact",
                n_docs,
                timed(lambda: text_index_compact(spark, tidx)),
            )

            aidx = f"{work}/ivf_idx_x{tag}"
            ivf_index_write(seed_emb, aidx, n_centroids=16, seed=42)
            record(
                "ivf_index_append",
                n_emb,
                timed(lambda: ivf_index_append(emb, aidx)),
            )
            record(
                "ivf_index_compact",
                n_emb,
                timed(lambda: ivf_index_compact(spark, aidx)),
            )
            qset = emb.limit(50)
            record(
                "ivf_index_query",
                n_emb,
                timed(
                    lambda: ivf_index_query(qset, aidx, k=10, nprobe=4).count()
                ),
            )

            # IVF-PQ twin (r10): same probe set through the ADC tier —
            # the scan reads (vec_id, vnorm, codes) instead of qvec, so
            # the rung measures whether the mapInPandas ADC scorer stays
            # linear as the probed lists grow
            apidx = f"{work}/ivf_pq_idx_x{tag}"
            ivf_index_write(
                seed_emb, apidx, n_centroids=16, seed=42,
                pq_m=8, pq_k=256, pq_residual=True,
            )
            ivf_index_append(emb, apidx)
            record(
                "ivf_pq_index_query",
                n_emb,
                timed(
                    lambda: ivf_index_query(
                        qset, apidx, k=10, nprobe=4, shortlist="pq"
                    ).count()
                ),
            )

            sidx = f"{work}/serve_x{tag}"
            text_index_write(seed_docs, f"{sidx}/bm25", n_buckets=32)
            sink = prepared_serving_sink(
                f"{sidx}/store",
                f"{sidx}/out",
                text_index_path=f"{sidx}/bm25",
            )
            record(
                "prepared_serving_sink",
                n_docs,
                timed(lambda: sink(docs, 0)),
            )

            # the incremental ingest GATE (r10): a k-scaled signature
            # index vs a fixed-size batch of near-dups of copy 0 — the
            # per-micro-batch suppression cost as the store grows. The
            # index build is outside the timer (the gate's read side,
            # not the build, is the per-batch cost).
            idx_sig = minhash_index(docs, n=3, num_hashes=48).persist()
            idx_sig.count()
            batch_u = scaled_docs(spark, sf_dir, 1).select(
                (F.col("doc_id") + F.lit(70_000_000)).alias("doc_id"),
                "text",
            )
            record(
                "dedup_incremental_gate",
                n_docs,
                timed(
                    lambda: dedup_against_index(
                        batch_u, idx_sig, n=3, num_hashes=48, bands=12,
                        threshold=0.5,
                    ).count()
                ),
            )
            idx_sig.unpersist()

            # the watermarked event-time stream (r12): two availableNow
            # cycles of sliding_tile_counts over k content-disjoint USER
            # populations sharing the SAME 30-day span — open-window
            # state (window x user x tile keys) grows linearly with k,
            # which is exactly the axis that hurts a streaming agg at
            # 100 TB (state size, not event count per key). Staging the
            # source files is outside the timer (the registry entry
            # caches its staged fixture the same way); the timed section
            # is ingest cycle 1 + ingest cycle 2 (late rows included) +
            # the sink read-back.
            from geoscan_fraud_spark.harness import _events_coords
            from geoscan_fraud_spark.harness_pipeline import (
                _WTW_SPLIT,
                _wtw_epoch_secs,
            )
            from geoscan_fraud_spark.streaming.scoring import (
                sliding_tile_counts,
            )

            base_ev = _events_coords(spark, sf_dir, "ts")
            t_ev = _wtw_epoch_secs(base_ev)
            pts = base_ev.select(
                F.timestamp_seconds(t_ev).alias("ts"),
                "user_id",
                "latitude",
                "longitude",
                (
                    (t_ev >= _WTW_SPLIT)
                    | (F.col("event_id") % 7 == 3)
                ).alias("cyc2"),
            )
            copies = [
                pts.withColumn(
                    "user_id", F.col("user_id") + F.lit(c * 10_000_000)
                )
                for c in range(k)
            ]
            ev_scaled = copies[0]
            for c in copies[1:]:
                ev_scaled = ev_scaled.unionByName(c)
            wdir = f"{work}/wtw_x{tag}"
            ev_scaled.filter(~F.col("cyc2")).drop("cyc2").write.parquet(
                f"{wdir}/stage/f=a"
            )
            ev_scaled.filter(F.col("cyc2")).drop("cyc2").write.parquet(
                f"{wdir}/stage/f=b"
            )
            n_events = ev_scaled.count()

            def run_wtw_stream():
                import os as _os
                import shutil as _shutil

                src, out, ckpt = (
                    f"{wdir}/src",
                    f"{wdir}/out",
                    f"{wdir}/ckpt",
                )
                for d in (src, out, ckpt):
                    _shutil.rmtree(d, ignore_errors=True)
                _os.makedirs(src)
                schema = (
                    "ts timestamp, user_id bigint, "
                    "latitude double, longitude double"
                )

                def cycle(name):
                    _os.makedirs(f"{src}/{name}", exist_ok=True)
                    sdir = f"{wdir}/stage/{name}"
                    for fn in _os.listdir(sdir):
                        if fn.endswith(".parquet") or fn == "_SUCCESS":
                            _os.link(f"{sdir}/{fn}", f"{src}/{name}/{fn}")
                    q = (
                        sliding_tile_counts(
                            spark.readStream.schema(schema).parquet(
                                src + "/f=*"
                            ),
                            ts_col="ts",
                            user_col="user_id",
                            window="3600 seconds",
                            slide="1800 seconds",
                            watermark="1800 seconds",
                        )
                        .writeStream.format("parquet")
                        .outputMode("append")
                        .option("path", out)
                        .option("checkpointLocation", ckpt)
                        .trigger(availableNow=True)
                        .start()
                    )
                    assert q.awaitTermination(600)

                cycle("f=a")
                cycle("f=b")
                return spark.read.parquet(out).count()

            record("watermarked_stream", n_events, timed(run_wtw_stream))

            docs.unpersist()
            emb.unpersist()

        # ---- big-store gate rungs (VERDICT r10 #8): store >= 10^6
        # signature rows, batch FIXED at 2000 docs — the rung that can
        # tell O(store) from O(batch) per-batch cost. The store is
        # SYNTHETIC (deterministic xxhash64 signatures + pre-banded
        # hashes, the minhash_index(bands=...) layout) and DISK-backED:
        # random signatures never match the batch, so the timing
        # isolates the gate's read-side shape — banding scan, hot-bucket
        # window, candidate join — exactly the plan the r11 prune fixed.
        from geoscan_fraud_spark.operators.dedup import MINHASH_MOD
        from geoscan_fraud_spark.operators.incremental import (
            _band_hash_array,
        )

        big_base = 1_000_000
        fixed_batch = (
            load_fixture(spark, sf_dir, "documents")
            .select(
                (F.col("doc_id") + F.lit(80_000_000)).alias("doc_id"),
                "text",
            )
            .limit(2000)
            .localCheckpoint(eager=True)
        )
        for k in scales:
            n_store = big_base * k
            print(f"bigstore gate x{k} ({n_store} sig rows):", flush=True)
            store_path = f"{work}/bigstore_x{k}"
            sig = F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col("id"), F.lit(i)),
                        F.lit(MINHASH_MOD),
                    )
                    for i in range(48)
                ]
            )
            (
                spark.range(n_store)
                .select(F.col("id"), sig.alias("sig"))
                .withColumn("bands", _band_hash_array(48, 12, "xxhash64"))
                .write.mode("overwrite")
                .parquet(store_path)
            )
            store = spark.read.parquet(store_path)
            # min-of-2 per rung: these rungs run late in a long-lived
            # session (GC/page-cache state accrues) and a single timing
            # at the 4-8M rungs proved noisy; the min is the plan's cost
            record(
                "dedup_incremental_gate_bigstore",
                n_store,
                min(
                    timed(
                        lambda: dedup_against_index(
                            fixed_batch, store, n=3, num_hashes=48,
                            bands=12, threshold=0.5,
                        ).count()
                    )
                    for _ in (0, 1)
                ),
            )
            # the r10 plan (two store-wide shuffles per batch) timed on
            # the SAME rung — the contrast the 40k ceiling hid: at 8M
            # store rows the unpruned wall is ~2.4x the pruned one and
            # diverging (measured 20.5s vs 49.1s on this box), while
            # below ~4M the in-RAM local shuffle masks it entirely
            record(
                "dedup_incremental_gate_bigstore_unpruned",
                n_store,
                min(
                    timed(
                        lambda: dedup_against_index(
                            fixed_batch, store, n=3, num_hashes=48,
                            bands=12, threshold=0.5, prune_index=False,
                        ).count()
                    )
                    for _ in (0, 1)
                ),
            )

        # ---- span-gate big-store rungs (VERDICT r11 #4): the
        # ExactSubstr ingest gate vs a DISK-backed synthetic gram store
        # (random 8-byte gram hashes + counts — never matching the
        # fixed 2000-doc batch, same isolation trick as the minhash
        # bigstore rung). The gate's docstring is honest that local
        # WALL is a wash (16-byte rows group-sum at RAM speed); the
        # observable that is not a wash is SHUFFLE BYTES — the pruned
        # plan semi-joins the store down to batch-touched grams before
        # the merge group-sum, so its shuffle traffic is O(batch) while
        # the unpruned plan shuffles the whole store every batch (the
        # terabytes-on-the-wire shape at a 10^11-row cluster store).
        # Both byte counters come from the UI REST API per run.
        from geoscan_fraud_spark.operators.spans import (
            remove_spans_against_index,
        )

        bytes_probe = ShuffleBytesProbe(spark)
        for k in scales:
            n_store = big_base * k
            print(f"span-gate bigstore x{k} ({n_store} gram rows):", flush=True)
            sp_path = f"{work}/span_bigstore_x{k}"
            (
                spark.range(n_store)
                .select(
                    F.xxhash64(F.col("id")).alias("gh"),
                    (F.pmod(F.col("id"), F.lit(3)) + F.lit(1))
                    .cast("long")
                    .alias("cnt"),
                )
                .write.mode("overwrite")
                .parquet(sp_path)
            )
            sp_store = spark.read.parquet(sp_path)
            for op, prune in (
                ("span_gate_bigstore", True),
                ("span_gate_bigstore_unpruned", False),
            ):
                secs, bts = [], None
                for _ in (0, 1):  # min-of-2 (late-session noise), bytes
                    t0 = time.time() * 1000.0  # from the steady 2nd run
                    # force through a REBUILT column (same rule as the
                    # uniform rung above): a bare count() lets Catalyst
                    # eliminate the rebuild's left-outer join (unique
                    # build key, no right-side column referenced) and
                    # with it the ENTIRE store-side plan — the rung
                    # would time nothing
                    secs.append(
                        timed(
                            lambda: remove_spans_against_index(
                                fixed_batch, sp_store, min_len=10,
                                _prune_store=prune,
                            )
                            .agg(F.sum("removed_tokens"))
                            .first()
                        )
                    )
                    bts = bytes_probe.measure(t0) or bts
                record(op, n_store, min(secs))
                if bts is not None:
                    r = results.get(op)
                    if r is not None:
                        r.setdefault("shuffle_read_bytes", []).append(bts[0])
                        r.setdefault("shuffle_write_bytes", []).append(bts[1])
                        print(
                            f"    shuffle bytes: read {bts[0]:,} / "
                            f"write {bts[1]:,}",
                            flush=True,
                        )

        # ---- skew rungs (VERDICT r09 #4): hot-key collapse detection.
        # No separate warm-up: every op/plan shape is already JIT-warm
        # from the uniform ladder above, and the uniform twin it is
        # ratioed against ran under the same warm state.
        # Timing hygiene (VERDICT r11 #5): these rungs run LAST in a
        # long-lived session, after the uniform ladder and the bigstore
        # rungs have churned GC/page-cache state — the r11 ladder's
        # minhash skew slope of 0.711 was mostly that context, not plan
        # cost (isolated fresh-session decomposition at x8: skew 5.49 s
        # vs uniform 5.29 s total — a wash, with the star guard bounding
        # the 8000-member planted family to ~16k verified pairs). Same
        # min-of-2 rule as the bigstore rungs; the uniform denominators
        # stay single-run from their EARLY (least-inflated) session
        # state, so the recorded skew_ratio is, if anything, an
        # overestimate — conservative in the direction that matters.
        probe = TaskSkewProbe(spark)
        skew_queries = queries + [("hotq", "hotterm alpha beta gamma")]
        # r12: the section gets its OWN discarded warm-up iteration — the
        # r12 ladder showed the first skew rung absorbing the cold state
        # left by the bigstore/span sections (x1 minhash 9.8s min-of-2,
        # x1 text query 5.5s -> a spurious 4.9 wall-ratio flag), while
        # x2-x8 sat at ratio ~1.0. The uniform ladder's warm-up argument
        # ("already JIT-warm") stopped holding once heavier sections ran
        # in between.
        for k in [None] + list(scales):
            warmup = k is None
            if warmup:
                k = scales[0]
                print(f"skew warm-up x{k} (discarded):", flush=True)
            else:
                print(f"skew scale x{k}:", flush=True)
            tag = "warm" if warmup else str(k)
            sdocs = skewed_docs(spark, sf_dir, k).persist()
            n_docs = sdocs.count()
            semb = skewed_emb(spark, sf_dir, k).persist()
            n_emb = semb.count()

            t0 = time.time() * 1000.0
            sec = min(
                timed(
                    lambda: dd.minhash_dedup(
                        sdocs, threshold=0.5, n=3, num_hashes=48, bands=12
                    ).count()
                )
                for _ in (0, 1)
            )
            record(
                "dedup_minhash_xxhash64_skew", n_docs, sec,
                ratio=probe.measure(t0),
            )

            stidx = f"{work}/text_idx_skew_{tag}"
            text_index_write(seed_docs, stidx, n_buckets=32)
            text_index_append(sdocs, stidx)
            t0 = time.time() * 1000.0
            sec = min(
                timed(
                    lambda: text_index_query(
                        spark, stidx, skew_queries, k=10
                    ).count()
                )
                for _ in (0, 1)
            )
            record("text_index_query_skew", n_docs, sec, ratio=probe.measure(t0))

            saidx = f"{work}/ivf_idx_skew_{tag}"
            ivf_index_write(seed_emb, saidx, n_centroids=16, seed=42)
            ivf_index_append(semb, saidx)
            hotq = semb.filter(F.col("vec_id") % 5 == 0).limit(50)
            t0 = time.time() * 1000.0
            sec = min(
                timed(
                    lambda: ivf_index_query(
                        hotq, saidx, k=10, nprobe=4
                    ).count()
                )
                for _ in (0, 1)
            )
            record("ivf_index_query_skew", n_emb, sec, ratio=probe.measure(t0))

            # ingest gate vs a HOT index: 20% of the k-scaled index is
            # one near-dup family; 20% of the fixed batch hits it. The
            # star guard (default) keeps the bucket join linear AND
            # keeps suppressing the flood — the old drop guard would
            # admit it wholesale
            sidx_sig = minhash_index(sdocs, n=3, num_hashes=48).persist()
            sidx_sig.count()
            batch_s = skewed_docs(spark, sf_dir, 1).select(
                (F.col("doc_id") + F.lit(70_000_000)).alias("doc_id"),
                "text",
            )
            t0 = time.time() * 1000.0
            sec = min(
                timed(
                    lambda: dedup_against_index(
                        batch_s, sidx_sig, n=3, num_hashes=48, bands=12,
                        threshold=0.5,
                    ).count()
                )
                for _ in (0, 1)
            )
            record(
                "dedup_incremental_gate_skew", n_docs, sec,
                ratio=probe.measure(t0),
            )
            sidx_sig.unpersist()

            sdocs.unpersist()
            semb.unpersist()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    flagged = []
    for op, r in results.items():
        slope = fit_slope(r["rows"], r["secs"])
        r["slope"] = round(slope, 3)
        r["superlinear"] = slope > FLAG_SLOPE
        if r["superlinear"]:
            flagged.append(op)
        if op.endswith("_skew"):
            # wall-clock collapse check against the uniform twin at the
            # same rung — THE bounded-ness assertion for planted skew
            base = results.get(op[: -len("_skew")])
            if base:
                ratios = [
                    round(s / u, 3) if u > 0 else None
                    for s, u in zip(r["secs"], base["secs"])
                ]
                r["skew_ratio_per_rung"] = ratios
                worst = max(x for x in ratios if x is not None)
                r["skew_ratio"] = worst
                r["skew_collapsed"] = worst > SKEW_RATIO_BOUND
                if r["skew_collapsed"]:
                    flagged.append(op + ":wall_ratio")

    payload = {
        "sf_dir": sf_dir,
        "scales": scales,
        "flag_slope": FLAG_SLOPE,
        "skew_ratio_bound": SKEW_RATIO_BOUND,
        "flagged": flagged,
        "ops": results,
    }
    line = json.dumps(payload)
    print(line)
    if out_json:
        with open(out_json, "w") as f:
            f.write(line + "\n")
    if flagged:
        print(f"SUPER-LINEAR: {flagged}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
