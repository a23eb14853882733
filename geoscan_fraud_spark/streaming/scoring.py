"""Streaming anomaly scoring — the capability-parity surface for the
reference's "near real time" claims (`01:16`, `02:109-110`).

The reference has NO Structured Streaming code; real-time is delegated to
an externally-served bloom scorer and a TTL'd online store
(`02:275-314`). For parity the engine provides:

* `score_stream` — stream-static join scoring: the literal left_outer +
  IS NULL form of `02:62-68` (stream-static anti joins aren't supported;
  the outer-join + filter plan is, and is stateless);
* `sliding_tile_counts` — watermarked sliding-window tile activity, the
  streaming equivalent of the 7-day TTL behavioral window (`02:286`).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoscan_fraud_spark.functions.grid import cell_id


def ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Cast a TIMESTAMP_NTZ event-time column to TIMESTAMP.

    Parquet whose timestamp metadata says ``isAdjustedToUTC=false`` (e.g.
    DuckDB-written fixtures) surfaces as TIMESTAMP_NTZ, which
    `withWatermark` rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    Watermarks need an instant, so NTZ wall-clock values are reinterpreted
    in ``spark.sql.session.timeZone``. `get_spark` pins that to UTC; a
    caller on a foreign session with a non-UTC zone must pin UTC too, or
    every instant (and hence every window boundary) silently shifts by
    the zone offset. Zone-aware timestamps pass through untouched.

    The column is resolved like Spark resolves it: exact match first,
    then case-insensitively; a miss raises naming the candidates.
    """
    exact = [f for f in df.schema.fields if f.name == ts_col]
    loose = [f for f in df.schema.fields if f.name.lower() == ts_col.lower()]
    matches = exact or loose
    if not matches:
        raise ValueError(
            f"event-time column {ts_col!r} not found; available columns: "
            f"{[f.name for f in df.schema.fields]}"
        )
    field = matches[0]
    if field.dataType.typeName() == "timestamp_ntz":
        return df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def score_stream(
    stream_df: DataFrame,
    tiles: DataFrame,
    res: int = 10,
    lat_col: str = "latitude",
    lng_col: str = "longitude",
    user_col: str = "user",
    ts_col: str | None = None,
) -> DataFrame:
    """Stateless stream-static scoring; emits only anomalous rows.

    ``ts_col``: optional event-time column to normalize via
    `ensure_event_time` (NTZ parquet sources otherwise break any
    downstream ``withWatermark`` a consumer adds). score_stream itself is
    stateless and needs no watermark — the guard is for composability.

    The static side is users x tiles-per-user — proportional to the user
    population, so it is NOT forcibly broadcast: at 100M users a forced
    broadcast OOMs the streaming driver.

    Join planning caveat: AQE does NOT run inside streaming micro-batches
    — only static planning applies — and the static side here (a distinct
    over a computed DF) carries no size statistics, so the plan is a
    sort-merge join with a per-micro-batch shuffle+sort: the scale-safe
    choice.
    """
    keys = tiles.select(user_col, "h3").distinct().withColumn("known", F.lit(1))
    pts = stream_df.withColumn(
        "h3", cell_id(F.col(lat_col).cast("double"), F.col(lng_col).cast("double"), res)
    )
    if ts_col is not None:
        pts = ensure_event_time(pts, ts_col)
    return (
        pts.join(keys, [user_col, "h3"], "left_outer")
        .filter(F.col("known").isNull())
        .drop("h3", "known")
    )


def sliding_tile_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user",
    res: int = 10,
    lat_col: str = "latitude",
    lng_col: str = "longitude",
    window: str = "7 days",
    slide: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked sliding-window per-user tile activity — streaming
    analog of the MongoDB TTL index (`02:281-287`)."""
    pts = stream_df.withColumn(
        "h3", cell_id(F.col(lat_col).cast("double"), F.col(lng_col).cast("double"), res)
    )
    pts = ensure_event_time(pts, ts_col)
    return (
        pts.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide), F.col(user_col), F.col("h3"))
        .agg(F.count(F.lit(1)).alias("visits"))
    )


def dedup_stream(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: emit only the first occurrence of each key.

    With ``ts_col`` the state is watermark-bounded
    (`dropDuplicatesWithinWatermark`): a duplicate arriving within the
    watermark of its first occurrence is dropped, and expired keys leave
    state — the configuration that survives an unbounded stream. Without
    ``ts_col`` the state grows with the distinct-key count
    (plain `dropDuplicates`) — acceptable only for bounded key domains.
    This is the streaming face of the batch `exact_dedup`: ingestion
    pipelines dedup exactly at the door, then near-dup (MinHash/SimHash)
    in batch.
    """
    if ts_col is None:
        return stream_df.dropDuplicates(key_cols)
    out = ensure_event_time(stream_df, ts_col)
    return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


#: corpus-output clustering gate: a batch whose
#: driver-side size estimate clears this many bytes gets a REBALANCE
#: before its ``batch_id=N`` write, so a large trigger lands
#: advisory-sized files instead of task-count small ones
_OUT_CLUSTER_MIN_BYTES = 256 * 1024 * 1024


@contextlib.contextmanager
def _job_label(spark, label: str):
    """Label every Spark job the body runs with ``label`` (the job
    description the status store, the UI and `tools/profile.py jobs`
    group by), then restore the PRIOR description — the streaming
    engine's own batch label — so jobs that run later in the same
    micro-batch keep their attribution. foreachBatch runs on the
    stream-execution thread and the description is thread-local, so a
    label lands on exactly this batch's jobs."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def _maybe_cluster_output(df: DataFrame, cluster_output):
    """Size-gated REBALANCE before a ``batch_id=N`` corpus write (guide
    §6). ``cluster_output``: ``'auto'`` applies the
    hint only when the optimizer's driver-only size estimate is KNOWN
    and clears `_OUT_CLUSTER_MIN_BYTES` — small micro-batches never pay
    a text shuffle for layout. The estimate caveat: foreachBatch hands
    sinks an RDD-backed batch whose estimate is the defaultSizeInBytes
    sentinel (not a measurement), so 'auto' stays off for plans rooted
    ONLY at the batch — it fires when the dedup output's dominant
    relations carry real stats. Deployments with known-large triggers
    pass ``True`` (always cluster; AQE sizes the files by the advisory
    partition size); ``False`` never clusters."""
    if cluster_output is False:
        return df
    if cluster_output is True:
        return df.hint("rebalance")
    if cluster_output != "auto":
        raise ValueError(
            f"cluster_output must be True, False or 'auto', got "
            f"{cluster_output!r}"
        )
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if est < (1 << 60) and est >= _OUT_CLUSTER_MIN_BYTES:
        return df.hint("rebalance")
    return df


def incremental_ingest_sink(
    index_path: str,
    out_path: str,
    dedup_fn,
    index_fn,
    index_cols: list[str],
    empty_index_schema,
    optional_index_cols: list[str] | None = None,
    cluster_output: bool | str = "auto",
):
    """Generic `writeStream.foreachBatch(...)` sink for store-backed
    incremental dedup: each micro-batch is deduped against the persisted
    index via ``dedup_fn(batch_df, index_df) -> kept`` and within itself;
    survivors append to ``out_path`` and ``index_fn(kept)`` rows to
    ``index_path``. `neardup_ingest_sink` (MinHash text store) and
    `embedding_ingest_sink` (int8 vector store) are instances.

    Idempotent under retries: both writes land in a `batch_id=N`
    subdirectory with overwrite mode, so a replayed micro-batch
    overwrites its own output instead of double-appending (the standard
    exactly-once recipe for foreachBatch file sinks), and the index read
    filters to STRICTLY EARLIER batches — partition-pruned on the
    batch_id layout column — so a replay never matches its own committed
    delta (which would drop every survivor). Readers get the corpus with
    `spark.read.parquet(out_path)` (partition discovery surfaces
    `batch_id`; drop it if unwanted).

    Cross-batch semantics are arrival-order: a doc is compared against
    retained docs of strictly earlier batches plus its own batch. Two
    near-dups split across in-flight batches resolve to whichever batch
    commits first — same as any incremental dedup.
    """

    def inner(batch_df: DataFrame, batch_id: int) -> None:
        import os

        from geoscan_fraud_spark.sources.io import (
            heal_pending_base,
            store_has_committed_batch,
            store_tombstones,
        )

        spark = batch_df.sparkSession
        # complete a crashed compaction/expiry before reading: the
        # publish dir holds every folded row, so healing is mechanical
        # and this sink is the store's single writer while streaming
        if os.path.isdir(index_path):
            heal_pending_base(index_path)
        # only a store with no committed batch bootstraps from empty; any
        # failure to read an existing one (corrupt files, a missing index
        # column) must surface, not silently restart the store
        if store_has_committed_batch(index_path):
            raw = spark.read.parquet(index_path)
            # optional columns (e.g. the pre-banded 'bands' array) are
            # selected only when the store has them, so a sink upgraded
            # mid-store keeps reading v1 layouts instead of treating the
            # select failure as an empty bootstrap
            cols = list(index_cols) + [
                c for c in (optional_index_cols or []) if c in raw.columns
            ]
            idx = raw.filter(F.col("batch_id") < batch_id).select(*cols)
            # forgotten docs (sources/io.forget_ids) must stop matching:
            # anti-join the tombstone sibling, broadcast-sized by nature
            dead = store_tombstones(spark, index_path)
            if dead is not None:
                idx = idx.join(F.broadcast(dead), "id", "left_anti")
        else:
            idx = spark.createDataFrame([], empty_index_schema(batch_df))
        # One evaluation feeds both writes: the dedup plan materializes
        # ONCE, directly into the corpus dir (a localCheckpoint + write
        # would pay an extra per-batch job and double-materialize the
        # batch into executor memory); the
        # index rows then derive from the committed on-disk snapshot, so
        # they match the stored corpus by construction even if an
        # upstream were nondeterministic. ``aux``: dedup_fn may
        # return ``(kept_plan, aux_dict)`` carrying already-materialized
        # per-batch state (e.g. the checkpointed signature table);
        # index_fn then receives it as a second argument and can derive
        # the store rows without recomputing that state from the
        # survivors' raw text.
        # the per-batch phase labels attribute the stream's job floor to
        # gate/dedup construction (eager signature checkpoints, connected
        # components), the corpus write, and the store write
        with _job_label(spark, f"ingest b={batch_id}: gates+dedup plan"):
            res = dedup_fn(batch_df, idx)
            aux = None
            if isinstance(res, tuple):
                res, aux = res
        with _job_label(spark, f"ingest b={batch_id}: corpus write"):
            _maybe_cluster_output(res, cluster_output).write.mode(
                "overwrite"
            ).parquet(f"{out_path}/batch_id={batch_id}")
            kept = spark.read.parquet(f"{out_path}/batch_id={batch_id}")
        with _job_label(spark, f"ingest b={batch_id}: store index rows"):
            (index_fn(kept, aux) if aux is not None else index_fn(kept)).write.mode(
                "overwrite"
            ).parquet(f"{index_path}/batch_id={batch_id}")

    return inner


def neardup_ingest_sink(
    index_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    sig_hash: str = "xxhash64",
    cluster_output: bool | str = "auto",
):
    """Near-dup-at-ingest against the persisted MinHash signature store
    (`operators/incremental.dedup_against_index`, signature-only — the
    store grows ~8·num_hashes bytes per RETAINED doc while the corpus
    stays cold). `dedup_stream` removes exact key repeats inside the
    stream; this is the stronger corpus-level guarantee. See
    `incremental_ingest_sink` for the retry/idempotency contract."""
    from pyspark.sql import types as T

    from geoscan_fraud_spark.operators.incremental import (
        _band_hash_array,
        dedup_against_index,
        minhash_index,
    )

    def dedup_fn(batch_df, idx):
        sig_out: dict = {}
        kept = dedup_against_index(
            batch_df,
            idx,
            text_col=text_col,
            id_col=id_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            sig_hash=sig_hash,
            _sig_out=sig_out,
        )
        return kept, sig_out

    def index_fn(kept, aux=None):
        # bands pre-computed at append time: the next batch's index-side
        # band join explodes the stored array instead of re-hashing the
        # whole store. Guide §1.2: the dedup
        # stage already materialized every batch doc's signature —
        # semi-join that checkpointed table to the committed kept ids
        # instead of re-shingling + re-minhashing the survivors' text
        # (a doc's (id, sig) row is a pure function of its text, so the
        # rows are bit-identical; pinned in test_round12_fixes.py).
        sigs = (aux or {}).get("sigs")
        if sigs is not None:
            return sigs.join(
                kept.select(F.col(id_col).alias("id")), "id", "left_semi"
            ).withColumn("bands", _band_hash_array(num_hashes, bands, sig_hash))
        return minhash_index(
            kept, text_col, id_col, n, num_hashes, sig_hash, bands=bands
        )

    def empty_schema(batch_df):
        return T.StructType(
            [
                T.StructField("id", batch_df.schema[id_col].dataType),
                T.StructField("sig", T.ArrayType(T.LongType())),
            ]
        )

    return incremental_ingest_sink(
        index_path,
        out_path,
        dedup_fn,
        index_fn,
        ["id", "sig"],
        empty_schema,
        optional_index_cols=["bands"],
        cluster_output=cluster_output,
    )


def embedding_ingest_sink(
    index_path: str,
    out_path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    planes: int = 16,
    seed: int = 42,
    threshold: float = 0.95,
    cluster_output: bool | str = "auto",
):
    """Embedding near-dup-at-ingest against the persisted int8 vector
    store (`operators/incremental.embedding_dedup_against_index`) —
    the multimodal/embedding analog of `neardup_ingest_sink`. See
    `incremental_ingest_sink` for the retry/idempotency contract."""
    from pyspark.sql import types as T

    from geoscan_fraud_spark.operators.incremental import (
        embedding_dedup_against_index,
        embedding_index,
    )

    def dedup_fn(batch_df, idx):
        return embedding_dedup_against_index(
            batch_df,
            idx,
            emb_col=emb_col,
            id_col=id_col,
            dim=dim,
            planes=planes,
            seed=seed,
            threshold=threshold,
        )

    def index_fn(kept):
        return embedding_index(kept, emb_col, id_col, dim, planes, seed)

    def empty_schema(batch_df):
        return T.StructType(
            [
                T.StructField("id", batch_df.schema[id_col].dataType),
                T.StructField("bucket", T.IntegerType()),
                T.StructField("scale", T.DoubleType()),
                T.StructField("qvec", T.ArrayType(T.ByteType())),
            ]
        )

    return incremental_ingest_sink(
        index_path,
        out_path,
        dedup_fn,
        index_fn,
        ["id", "bucket", "scale", "qvec"],
        empty_schema,
        cluster_output=cluster_output,
    )


def ann_index_ingest_sink(
    index_path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    drift_rebuild_ratio: float = 2.0,
    on_drift=None,
):
    """Keep a SERVING ANN index fresh from a stream: each micro-batch is
    `ivf_index_append`ed to a pre-built `ivf_index_write` index (the
    quantizer must come from a backfill fit — build the index before
    starting the stream). Complements `embedding_ingest_sink`, which
    dedups arrivals; this one makes them retrievable.

    Idempotency: `ivf_index_append` itself skips any
    ``batch_id <= last_stream_batch`` and commits the batch id in the
    SAME atomic ``centroids.json`` write as the row counters (holding
    the cursor in a second, separate write would leave a window where a
    crash double-counts the meta counters).
    Crash window: dying between the parquet append and the meta commit
    makes the replay re-append BIT-IDENTICAL rows (assignment and
    quantization are deterministic) — until maintenance runs, a
    duplicate only repeats a candidate row in serving top-k;
    `ivf_index_compact` (distinct over full rows) restores exact state
    on restart.

    ``on_drift`` (optional) receives the append-result dict whenever the
    batch trips ``rebuild_recommended`` — the hook for scheduling an
    offline re-fit; the write itself is never blocked.
    """
    from geoscan_fraud_spark.operators.similarity import ivf_index_append

    def inner(batch_df: DataFrame, batch_id: int) -> None:
        res = ivf_index_append(
            batch_df,
            index_path,
            emb_col=emb_col,
            id_col=id_col,
            drift_rebuild_ratio=drift_rebuild_ratio,
            # replay-stable generation stamp: a crash-window replay
            # re-appends BIT-identical rows (incl. src_batch), which is
            # what lets ivf_index_compact heal it with distinct()
            src_batch=int(batch_id),
        )
        if res.get("rebuild_recommended") and on_drift is not None:
            on_drift(res)

    return inner


def text_index_ingest_sink(
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Keep a SERVING BM25 index (`text_index_write`) fresh from a
    stream — the lexical twin of `ann_index_ingest_sink`. Each
    micro-batch is `text_index_append`ed with ``src_batch=batch_id``,
    which gives replay protection for free: the append skips committed
    batch ids, and commits counters + batch id in one stats.json write,
    so a crash-window replay can only duplicate postings/df-log rows
    (healed exactly by `text_index_compact`), never the global stats.
    Build the index from the backfill corpus before starting the
    stream; pair with an upstream dedup sink so batch doc_ids are new.
    """
    from geoscan_fraud_spark.operators.retrieval import text_index_append

    def inner(batch_df: DataFrame, batch_id: int) -> None:
        text_index_append(
            batch_df,
            index_path,
            text_col=text_col,
            id_col=id_col,
            src_batch=int(batch_id),
        )

    return inner


def profile_sink(
    profile_path: str,
    group_cols: list[str] | None = None,
    text_col: str = "text",
    lg_k: int = 12,
):
    """`writeStream.foreachBatch(...)` sink appending one corpus-profile
    row set per micro-batch (`operators/profiling.profile_corpus` —
    counts + mergeable HLL vocabulary sketch). Any later rollup is
    `merge_profiles` over the tiny profile table: per-batch sketches
    union into exactly the sketch a from-scratch profile would build, so
    corpus stats never require rescanning ingested data. Writes are
    idempotent per batch (batch_id=N overwrite, as the ingest sinks)."""

    def inner(batch_df: DataFrame, batch_id: int) -> None:
        from geoscan_fraud_spark.operators.profiling import profile_corpus

        profile_corpus(batch_df, group_cols, text_col, lg_k).write.mode(
            "overwrite"
        ).parquet(f"{profile_path}/batch_id={batch_id}")

    return inner


def prepared_ingest_sink(
    index_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_rules: dict | None = None,
    normalize_signatures: bool = False,
    lm=None,
    oov_logp: float | None = None,
    max_nll: float | None = None,
    quality_model=None,
    min_p_good: float | None = None,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    sig_hash: str = "xxhash64",
    benchmark: DataFrame | None = None,
    decontam_n: int = 8,
    benchmark_emb: DataFrame | None = None,
    emb_col: str | None = None,
    semantic_threshold: float = 0.95,
    bench_emb_col: str | None = None,
    lang_model=None,
    allowed_langs: list[str] | None = None,
    min_p_lang: float | None = None,
    cluster_output: bool | str = "auto",
):
    """The streaming counterpart of
    `operators/pipelines.prepare_training_corpus`: each micro-batch runs
    quality gates (Gopher rules; optional unigram-LM NLL bound with an
    OFFLINE-trained ``lm`` — a static relation, so the scoring join is
    stream-static broadcast; optional learned-classifier bound with an
    offline-fitted ``quality_model`` + ``min_p_good``, scored map-only
    per batch) and the survivors dedup against the
    persisted MinHash store exactly as `neardup_ingest_sink`.

    ``benchmark`` adds the n-gram decontamination stage and
    ``benchmark_emb`` + ``emb_col`` the semantic (embedding-space) one,
    both applied to the dedup survivors — same order as the batch
    pipeline. Each is a STATIC relation probed per micro-batch as a
    broadcast map pass (grams deduped + broadcast; embeddings folded
    into one broadcast row), so the decontamination gates add no
    stream-side shuffle and no cross-batch state.

    ``lang_model`` + ``allowed_langs`` (+ ``min_p_lang``) add the
    CCNet-style language gate alongside the quality rules — the
    offline-fitted classifier scores each batch map-only, same as the
    batch pipeline's gate.

    ``normalize_signatures`` mirrors the batch pipeline: gates and
    signatures see `normalize_text` output while the stored corpus keeps
    raw text (the index_fn re-normalizes the kept rows — a map-only
    recompute, cheaper than threading a shadow column through the
    store). Rejected rows are dropped, not archived — run the batch
    pipeline's `annotated` audit surface when reject accounting matters.
    Retry/idempotency contract: `incremental_ingest_sink`.
    """
    from pyspark.sql import types as T

    from geoscan_fraud_spark.operators.incremental import (
        dedup_against_index,
        minhash_index,
    )
    from geoscan_fraud_spark.operators.pipelines import default_quality_rules
    from geoscan_fraud_spark.operators.text import (
        annotate_filter_reasons,
        normalize_text,
        perplexity_score,
        repetition_stats,
    )

    if (lm is None) != (oov_logp is None):
        raise ValueError("pass lm and oov_logp together")
    if (benchmark_emb is None) != (emb_col is None):
        raise ValueError("pass benchmark_emb and emb_col together")
    if (allowed_langs is not None or min_p_lang is not None) and lang_model is None:
        raise ValueError("allowed_langs / min_p_lang require a fitted lang_model")

    def _sig(df):
        return (
            normalize_text(df, text_col, strip_accents=True)
            if normalize_signatures
            else df
        )

    def dedup_fn(batch_df, idx):
        from geoscan_fraud_spark.operators.text import token_count_col

        base = _sig(batch_df)
        reps = repetition_stats(base, text_col, id_col, ns=(2, 3))
        rules = dict(quality_rules or default_quality_rules())
        # per-doc relations joined on id after the stat columns
        scored = []
        if lm is not None:
            scored.append(
                perplexity_score(base, lm, oov_logp, text_col, id_col).select(
                    id_col, "nll"
                )
            )
            if max_nll is not None:
                rules["lm_nll"] = F.col("nll") <= max_nll
        if quality_model is not None:
            from geoscan_fraud_spark.operators.quality_model import score_quality

            scored.append(score_quality(base, quality_model, text_col, id_col))
            if min_p_good is not None:
                rules["quality_model"] = F.col("p_good") >= min_p_good
        if lang_model is not None:
            from geoscan_fraud_spark.operators.lang_model import score_lang

            for c in ("lang", "p_lang"):
                if c in base.columns:
                    raise ValueError(
                        f"streamed batch already has a {c!r} column — it "
                        "is reserved by the lang_model gate; rename it"
                    )
            scored.append(score_lang(base, lang_model, text_col, id_col))
            if allowed_langs is not None:
                rules["language"] = F.col("lang").isin(list(allowed_langs))
            if min_p_lang is not None:
                rules["lang_confidence"] = F.col("p_lang") >= min_p_lang

        # Both stat operators are strict one-row-per-doc selects, so
        # attaching one changes no cardinality, and skipping one whose
        # columns no rule references is value-identical and saves a full
        # map pass (for reps, an Arrow round-trip) PER MICRO-BATCH: a
        # min_tokens-only gate (the prepared_stream_query shape) runs no
        # repetition pass. The rules are analyzed once (lazily, no job)
        # against the batch with every stat column attached, and the
        # attribute names their projection references pick the passes;
        # a rule naming an unknown column raises AnalysisException here.
        # A stat column the batch already carries is used as is.
        tok = "n_tokens" not in base.columns
        rep_cols = [c for c in reps.columns if c not in base.columns]

        def attach(df, with_tokens, with_reps):
            if with_tokens:
                df = df.withColumn("n_tokens", token_count_col(text_col))
            if with_reps:
                df = df.join(reps.select(id_col, *rep_cols), id_col)
            for rel in scored:
                df = df.join(rel, id_col)
            return df

        probe = attach(base, tok, bool(rep_cols)).select(
            *[passes.alias(name) for name, passes in rules.items()]
        )
        refs = probe._jdf.queryExecution().analyzed().references().toSeq()
        used = {refs.apply(i).name() for i in range(refs.size())}
        ann = attach(
            base,
            tok and "n_tokens" in used,
            bool(used.intersection(rep_cols)),
        )
        # guide §1.2 — don't compute things twice: the gate chain
        # (normalize + token counts + the Arrow repetition pass + the
        # LM-NLL broadcast join + annotate/filter) used to live only in
        # `passed`'s LINEAGE, so it executed TWICE per micro-batch —
        # once under the signature checkpoint and again inside the
        # corpus-write plan (only the signature table was cut). One
        # eager checkpoint of the id-only gate verdict (8 bytes/doc)
        # makes every downstream consumer a semi-join against
        # already-materialized ids (auto-broadcast at micro-batch scale;
        # a huge ad-hoc batch falls back to a shuffle join instead of
        # blowing the driver); the second full gate pass (and its
        # per-batch lm broadcast) disappears from the write plan.
        passed_ids = (
            annotate_filter_reasons(ann, rules)
            .filter(F.col("reject_reason").isNull())
            .select(id_col)
            .localCheckpoint(eager=True)
        )
        passed = batch_df.join(passed_ids, id_col, "left_semi")
        sig_out: dict = {}
        kept = dedup_against_index(
            _sig(passed),
            idx,
            text_col=text_col,
            id_col=id_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            sig_hash=sig_hash,
            _sig_out=sig_out,
        )
        if normalize_signatures:
            # survivors decided on the normalized shadow; stored rows
            # keep the RAW text
            kept = passed.join(kept.select(id_col), id_col, "left_semi")
        if benchmark is not None:
            from geoscan_fraud_spark.operators.decontam import (
                contamination_hits,
            )

            # one anti-join against the tiny flagged-id list (running
            # decontaminate() and re-joining its survivors would pay a
            # second join per micro-batch for the same result)
            flagged = contamination_hits(
                _sig(kept),
                _sig(benchmark),
                n=decontam_n,
                text_col=text_col,
                id_col=id_col,
            ).select(id_col)
            kept = kept.join(F.broadcast(flagged), id_col, "left_anti")
        if benchmark_emb is not None:
            from geoscan_fraud_spark.operators.decontam import (
                semantic_decontaminate,
            )

            if emb_col not in kept.columns:
                raise ValueError(
                    f"emb_col {emb_col!r} is not a column of the "
                    f"streamed batch: {kept.columns}"
                )
            kept = semantic_decontaminate(
                kept,
                benchmark_emb,
                threshold=semantic_threshold,
                emb_col=emb_col,
                id_col=id_col,
                bench_emb_col=bench_emb_col,
            )
        return kept, sig_out

    def index_fn(kept, aux=None):
        # guide §1.2: reuse the dedup stage's checkpointed batch
        # signature table for the survivors' store rows — the sigs were
        # computed over the SAME `_sig(...)` normalization this fallback
        # applies, so the (id, sig, bands) rows are bit-identical to a
        # fresh `minhash_index` over the kept text (pinned in
        # test_round12_fixes.py); see `neardup_ingest_sink.index_fn`.
        sigs = (aux or {}).get("sigs")
        if sigs is not None:
            from geoscan_fraud_spark.operators.incremental import (
                _band_hash_array,
            )

            return sigs.join(
                kept.select(F.col(id_col).alias("id")), "id", "left_semi"
            ).withColumn("bands", _band_hash_array(num_hashes, bands, sig_hash))
        return minhash_index(
            _sig(kept), text_col, id_col, n, num_hashes, sig_hash, bands=bands
        )

    def empty_schema(batch_df):
        return T.StructType(
            [
                T.StructField("id", batch_df.schema[id_col].dataType),
                T.StructField("sig", T.ArrayType(T.LongType())),
            ]
        )

    return incremental_ingest_sink(
        index_path,
        out_path,
        dedup_fn,
        index_fn,
        ["id", "sig"],
        empty_schema,
        optional_index_cols=["bands"],
        cluster_output=cluster_output,
    )


def prepared_serving_sink(
    index_path: str,
    out_path: str,
    text_index_path: str | None = None,
    ann_index_path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    emb_col: str | None = None,
    maintain_every_n: int | None = None,
    maintain_compact_after: int = 64,
    maintain_vacuum_min_age_sec: float = 0.0,
    **prep_kwargs,
):
    """The whole platform in one foreachBatch: gate -> dedup -> store ->
    SERVE. Composes `prepared_ingest_sink` (quality gates + store-backed
    near-dup dedup + corpus append) with the serving-index appends —
    each micro-batch's SURVIVORS land in the BM25 index
    (``text_index_path``) and/or the ANN index (``ann_index_path``,
    requires ``emb_col``), both pre-built from the backfill corpus.

    The composition inherits every store's own idempotency: the prepare
    stage overwrites its ``batch_id=N`` dirs and its dedup is
    deterministic against strictly-earlier state, so the read-back of a
    replayed batch's survivors is IDENTICAL — and both index appends
    skip batch ids they already committed. Crash windows are per-store
    and heal independently (`text_index_compact` / `ivf_index_compact`).

    ``maintain_every_n``: every N-th micro-batch, AFTER the batch
    commits, run the one-call maintain runbooks on every store this
    sink owns — `store_maintain` on the dedup signature store and
    `index_maintain` on each serving index
    (heal -> compact-if-pressure/tombstones -> vacuum past
    ``maintain_vacuum_min_age_sec``). The sink is the single writer, so
    the runbooks' writer locks never contend with its own appends; set
    the vacuum grace to cover your longest external query, since
    EXTERNAL readers may still hold a retired generation. Maintenance
    after a replayed batch is harmless (idempotent: compaction heals
    duplicates, vacuum skips the live generation)."""
    from geoscan_fraud_spark.operators.retrieval import text_index_append

    if ann_index_path is not None and emb_col is None:
        raise ValueError("ann_index_path requires emb_col")
    prep = prepared_ingest_sink(
        index_path, out_path, text_col=text_col, id_col=id_col, **prep_kwargs
    )
    ann_sink = (
        ann_index_ingest_sink(ann_index_path, emb_col=emb_col, id_col=id_col)
        if ann_index_path is not None
        else None
    )

    def inner(batch_df: DataFrame, batch_id: int) -> None:
        prep(batch_df, batch_id)
        spark = batch_df.sparkSession
        kept = spark.read.parquet(f"{out_path}/batch_id={batch_id}")
        if text_index_path is not None:
            with _job_label(spark, f"serve b={batch_id}: bm25 append"):
                text_index_append(
                    kept,
                    text_index_path,
                    text_col=text_col,
                    id_col=id_col,
                    src_batch=int(batch_id),
                )
        if ann_sink is not None:
            with _job_label(spark, f"serve b={batch_id}: ann append"):
                ann_sink(kept, batch_id)
        if maintain_every_n and batch_id > 0 and batch_id % maintain_every_n == 0:
            from geoscan_fraud_spark.sources.io import index_maintain, store_maintain

            with _job_label(spark, f"serve b={batch_id}: maintenance"):
                store_maintain(
                    spark, index_path, compact_after=maintain_compact_after
                )
                for path in (text_index_path, ann_index_path):
                    if path is not None:
                        index_maintain(
                            spark,
                            path,
                            compact_after=maintain_compact_after,
                            vacuum_min_age_sec=maintain_vacuum_min_age_sec,
                        )

    return inner
