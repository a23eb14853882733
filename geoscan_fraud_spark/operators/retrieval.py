"""Sparse (BM25) retrieval + hybrid rank fusion — the lexical complement
of the dense ANN family (`operators/similarity.py`).

A training-data pipeline at 100 TB needs BOTH retrieval modalities:
dense ANN for semantic neighbors (SemDeDup, semantic decontamination)
and lexical top-k for corpus exploration, targeted quality audits
("show me the documents that mention X"), and retrieval-based
contamination checks that embeddings miss (rare named entities, code
identifiers). This module supplies the lexical side with the same
engineering contract the IVF family established:

* `bm25_topk` — one-shot relational BM25 over a corpus: postings are
  restricted to the query vocabulary MAP-SIDE (broadcast semi-join of
  exploded tokens against the tiny query-term set) before the one
  posting shuffle, so the aggregate's input is proportional to
  query-term postings, never the corpus token count. Global stats
  (N, avgdl) ride the plan as a lazy one-row broadcast — no driver
  action at build (the interval-join lazy-median pattern,
  `operators/asof.py`).
* `text_index_write` / `text_index_query` — the serving path: postings
  persisted PARTITIONED BY an engine-portable md5 term bucket, per-term
  document frequencies beside them, corpus stats in JSON. A query
  computes its terms' buckets driver-side and pushes a static
  ``bucket IN (...)`` filter, so the scan prunes to the query's
  partition directories — the `ivf_index_write` layout point
  (`similarity.py:557`) applied to text.
* `rrf_fuse` — reciprocal-rank fusion (Cormack et al. 2009) of any
  number of (query_id, doc_id, rank) relations: the standard way to
  combine the sparse and dense top-k lists without score calibration.

Scoring uses the Lucene/Robertson BM25 form with the +1 idf floor (idf
is never negative):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(q, d) = sum_t qtf * idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Repeated query terms contribute once per occurrence (the Lucene
multiple-clause semantics), expressed as the per-(query,term) count
``qtf``. Scores round to 6 decimals BEFORE ranking so the (score desc,
doc_id asc) order — and therefore the top-k set — replays bit-stably in
an external SQL oracle regardless of float summation order.

Reference lineage: the tile TF-IDF relational recipe
(`01_geofraud_clustering.py:380-413`) is the degenerate one-query case;
this module generalizes it to ranked multi-query retrieval.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geoscan_fraud_spark.sources.io import (
    anti_tombstones,
    atomic_write_json,
    fold_generation,
    gen_dir,
    index_writer_lock,
    next_generation,
    publish_generation,
    read_index_meta,
)

#: md5-hex prefix length for the term bucket (60 bits, same slice as
#: `operators/sampling.py`'s portable uniform)
_BUCKET_HEX = 15

#: every generation-scoped data-dir family a BM25 index owns — the one
#: list that generation listing, vacuum, fsck, and the retire stamps
#: must all agree on (a family missing here would leak stale dirs past
#: vacuum or dodge the fsck's orphan adjudication)
_TEXT_GEN_FAMILIES = ["postings", "terms", "tombstones", "empty_docs"]


def search_tokens(text_col) -> "F.Column":
    """Whitespace tokens, lowercased, empties filtered — the retrieval
    tokenization. Lowercasing (unlike `text.tokens`) because lexical
    search should not split the postings of "The"/"the"."""
    return F.filter(
        F.split(F.lower(F.trim(text_col)), r"\s+"), lambda t: t != ""
    )


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the Spark bucket expression — MUST stay in
    lockstep with `_term_bucket_col` (query-time pruning computes buckets
    here, index layout computes them in Spark)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:_BUCKET_HEX], 16) % n_buckets


def _term_bucket_col(term_col, n_buckets: int):
    return (
        F.conv(F.substring(F.md5(term_col), 1, _BUCKET_HEX), 16, 10).cast("long")
        % F.lit(n_buckets)
    )


def _doc_postings_outer(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, term, tf, dl): one corpus tokenize + explode_outer +
    ONE groupBy shuffle. dl (the doc's token count) is computed map-side
    before the explode and rides the group key — functionally dependent
    on doc_id, so key cardinality is unchanged. ``explode_outer``: a
    zero-token doc survives as ONE NULL-term sentinel row, so the doc
    count, the global counters and the empty-doc id list all derive from
    the SAME relation as the postings — no second (or third) corpus
    tokenize pass. Shared by `text_index_write` and `text_index_append`.

    Guide §2.5 "input skew": the tokenize+explode map side runs at
    the SOURCE's task granularity — one file / one row group = one core
    doing the whole pass (measured directly: the build's postings map
    stage planned 1 task on 32 cores over the single-row-group fixture,
    the single biggest job in `bm25_incremental_query`'s profile). The
    same driver-only, size-estimate-gated round-robin fan-out as the
    minhash signature pass (`dedup._fan_out_small`) spreads a small or
    unsplittable corpus first; at production scale the estimate is large
    and this is a no-op (no shuffle of corpus bytes is ever inserted)."""
    from geoscan_fraud_spark.operators.dedup import _fan_out_small

    tok = search_tokens(F.col(text_col))
    return (
        _fan_out_small(docs)
        .select(
            F.col(id_col).alias("doc_id"), F.size(tok).alias("dl"), tok.alias("__tok")
        )
        .select("doc_id", "dl", F.explode_outer("__tok").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _query_terms(queries: DataFrame, query_id_col: str, query_text_col: str) -> DataFrame:
    """(query_id, term, qtf) — the query side, small by definition."""
    qtok = search_tokens(F.col(query_text_col))
    return (
        queries.select(F.col(query_id_col).alias("query_id"), qtok.alias("__tok"))
        .select("query_id", F.explode("__tok").alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )


def _bm25_rank(
    matched: DataFrame, stats: DataFrame, k: int, k1: float, b: float
) -> DataFrame:
    """Shared back half: matched = (query_id, doc_id, term, tf, dl, df,
    qtf) -> (query_id, doc_id, score, rank) top-k. ``stats`` is a
    one-row (n_docs, avgdl) relation, broadcast (lazy scalar pattern)."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        matched.crossJoin(F.broadcast(stats))
        .withColumn("__contrib", F.col("qtf") * idf * tf_part)
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("__contrib"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
) -> DataFrame:
    """(query_id, doc_id, score, rank): BM25 top-k per query, one shot.

    100 TB shape: the exploded corpus tokens are semi-joined against the
    BROADCAST query vocabulary before anything shuffles — the posting
    aggregate and the per-(query,doc) score sum only ever move rows whose
    term appears in some query. df for the query terms is computed from
    those same restricted postings (df of a non-query term is never
    needed) and broadcast back. The only corpus-wide work is the
    stats aggregate (two scalars, one row) and the token scan itself.
    """
    q_terms = _query_terms(queries, query_id_col, query_text_col)
    vocab = q_terms.select("term").distinct()

    # measured-and-rejected: a shared `_fan_out_small` head for the
    # two corpus branches (token scan + stats aggregate) timed FLAT at
    # sf0.1 (2.05 s → 2.06 s min-of-4) — the one-shot path's cost is not
    # the tokenize map side, and the fan-out added three round-robin
    # exchanges of corpus text to the plan. Reverted per guide §1; the
    # indexed path (`_doc_postings_outer`) keeps its fan-out, where the
    # same change measured.
    tok = search_tokens(F.col(text_col))
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.size(tok).alias("dl"), tok.alias("__tok")
    ).select("doc_id", "dl", F.explode("__tok").alias("term"))
    postings = (
        exploded.join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # lazy global scalars: one-row aggregate broadcast into the plan —
    # no driver action at build time (asof.py's lazy-median pattern)
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.avg(F.size(search_tokens(F.col(text_col)))), F.lit(0.0)).alias(
            "avgdl"
        ),
    )
    matched = postings.join(F.broadcast(dfreq), "term").join(
        F.broadcast(q_terms), "term"
    )
    return _bm25_rank(matched, stats, k, k1, b)


def text_index_write(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Build and persist a BM25 inverted index. Returns ``n_buckets``.

    Layout (the `ivf_index_write` point applied to text):

    * ``path/postings`` — (term, doc_id, tf, dl) PARTITIONED BY
      ``bucket`` = portable md5(term) % n_buckets: a query reads only
      its terms' directories (static pruning via `text_index_query`).
    * ``path/terms`` — (term, df), same bucketing: the idf side without
      touching postings.
    * ``path/stats.json`` — {n_docs, total_dl, avgdl, n_buckets,
      n_empty}: the global scalars, computed once at build instead of
      per query; n_docs/total_dl are exact integer counters so
      `text_index_append` merges them losslessly, and ``n_empty``
      (docs with zero tokens — present in n_docs but absent from
      postings) lets `text_index_compact` RECOMPUTE n_docs from the
      surviving postings idempotently.
    * ``path/empty_docs`` — (doc_id, src_batch) for the zero-token
      docs behind ``n_empty`` (written only when there are any, read
      only by maintenance): postings cannot witness an empty doc, so
      without this list a TOMBSTONED empty doc's +1 in n_docs would
      survive every compaction.
      ``stats.json`` carries ``empties_tracked: true`` so compaction
      knows the list is authoritative; a legacy index without the flag
      keeps the old conservative carry-forward.

    At 100 TB a term's postings list can itself be large (stopwords);
    the per-bucket directories keep the scan bounded and the (term)
    filter inside a bucket is an ordinary pushed predicate.

    Contract (explicit because ``n_docs`` is a distinct-id counter):
    corpus ``doc_id``s must be unique — ``n_docs`` counts DISTINCT ids
    (mirroring `text_index_append`'s documented unique-id contract, so
    build and incremental accounting agree), and a corpus that repeats
    an id would get that id's term frequencies summed across copies in
    the postings while counting once in n_docs. Exact-dedup upstream
    (the ingest pipelines do) or assign fresh ids before building.

    Holds the `index_writer_lock` for the whole build. Rebuilding over
    a LIVE index publishes a NEW GENERATION: a fresh build never
    overwrites the directories in-flight readers resolved — it writes
    ``postings.gN``/``terms.gN`` beside them and flips the metadata
    pointer in one atomic commit (first build = generation 0, the bare
    layout). Prior tombstones belong to the replaced snapshot and do
    not carry over; stale generations remain until `index_vacuum`.
    """
    os.makedirs(path, exist_ok=True)
    with index_writer_lock(path, "text_index_write"):
        cursor = None
        try:
            prior_meta = read_index_meta(os.path.join(path, "stats.json"))
            # a rebuild over a streaming-fed index must carry the stream
            # cursor (like ivf_index_rebuild): dropping it would let a
            # crash-window replay of an already-committed batch pass the
            # replay guard and double-count counters with postings that
            # no compaction can heal (their src_batch differs from the
            # build's -1). The rebuild corpus is the caller's truth —
            # by the rebuild-over-live contract it contains every
            # committed batch, so skipping their replays is correct.
            if "last_stream_batch" in prior_meta:
                cursor = int(prior_meta["last_stream_batch"])
        except (FileNotFoundError, ValueError):
            prior_meta = None  # no or torn metadata — a rebuild is the cure
        g_new = next_generation(path, prior_meta, _TEXT_GEN_FAMILIES)
        meta_stub = {"gen": g_new}
        postings_dir = gen_dir(path, "postings", meta_stub)
        terms_dir = gen_dir(path, "terms", meta_stub)

        # src_batch stamps each posting's ingest generation (-1 =
        # build), enabling `index_expire`; format 2 = the column
        # is in EVERY postings file (no mixed schemas).
        # NOTE: the obvious job cut here — riding the global
        # counters on the postings write via `Dataset.observe` — is
        # deliberately NOT taken: constructing an `Observation`
        # initializes the session's lazy (non-serializable)
        # ObservationManager, after which ANY later task closure that
        # captures the SparkSession (MLlib model training summaries do,
        # e.g. the quality/lang classifier gates) dies with "Task not
        # serializable". Measured in tests/test_stateful_streaming.py.
        #
        # guide §1.2: ONE tokenize pass for everything — the sentinel
        # shape of `text_index_append`, applied to the build (a separate
        # counter job would tokenize the corpus a second time, and a
        # third when empties exist). n_docs counts distinct doc_ids (the
        # unique-id contract `text_index_append` already documents),
        # and NULL-text docs land in empty_docs exactly as an APPENDED
        # null-text doc does — build and incremental accounting agree on
        # that edge instead of diverging.
        # The build holds NO corpus-scale cache: persisting the full
        # sentinel-bearing postings relation for the whole build would,
        # at 100 TB, spill a postings-sized second copy to executor
        # storage, and partial eviction under a nondeterministic
        # upstream could recompute counters from a different corpus
        # sample than the written postings. Instead:
        # ONE corpus tokenize (the postings write), then every counter
        # derives from the WRITTEN snapshot plus one column-pruned
        # aggregate over the corpus id column (no text read, no second
        # tokenize): total_dl = sum(tf) over written postings (a doc's
        # term frequencies sum to its dl), n_posting_docs from the same
        # read-back aggregate, n_docs = countDistinct(id) over `docs` —
        # the same distinct-id semantics as the append's sentinel counter —
        # and the empty-doc id list (only when empties exist) is the
        # distinct corpus ids ANTI-JOINED against the written posting
        # doc ids, never a re-tokenize.
        postings_all = _doc_postings_outer(docs, text_col, id_col)
        postings = (
            postings_all.filter(F.col("term").isNotNull())
            .withColumn("bucket", _term_bucket_col(F.col("term"), n_buckets))
            .withColumn("src_batch", F.lit(-1))
        )
        # cluster by the layout column before the dynamic-partition
        # write (guide §6): without it every task holds rows of every
        # bucket and the writer emits tasks x buckets files. AQE
        # REBALANCE both coalesces (one file per bucket) and
        # skew-splits (a stopword bucket bigger than the advisory
        # size still splits into several right-sized files) —
        # `text_index_compact` applies the same discipline via
        # repartition(bucket).
        postings.hint("rebalance", "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(postings_dir)
        # df from the just-written postings: reading back costs one
        # pruned scan and guarantees terms/ agrees with postings/
        # even if `docs` is nondeterministic upstream. Explicit
        # schema: skips footer inference AND makes an EMPTY build
        # legal — the bootstrap shape for stream-fed indexes
        # (`prepared_serving_sink` over an index with no backfill
        # corpus), whose zero-row partitioned write leaves no files
        # to infer from.
        written = postings.sparkSession.read.schema(postings.schema).parquet(
            postings_dir
        )
        (
            written.groupBy("bucket", "term")
            .agg(F.count(F.lit(1)).alias("df"))
            .hint("rebalance", "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(terms_dir)
        )
        # ONE blocking action for all three build counters (guide
        # §1.2/§5 — the probe-union trick from the incremental gate):
        # the written-postings aggregate and the column-pruned corpus
        # id count are independent one-row relations, so a cross join
        # fetches both in a single first() instead of two scheduled
        # round-trips per build. Values unchanged (same aggregates over
        # the same relations; ReadSchema on the corpus side stays just
        # the id column).
        total_dl, n_posting_docs, n_docs = (
            written.select(
                F.coalesce(F.sum("tf"), F.lit(0)),
                F.countDistinct("doc_id"),
            )
            .crossJoin(
                docs.select(F.countDistinct(F.col(id_col)).alias("__nd"))
            )
            .first()
        )
        n_empty = int(n_docs) - int(n_posting_docs)
        if n_empty > 0:
            # empty-doc ids = corpus ids with no written posting — an
            # id-column anti-join, not a tokenize pass
            (
                docs.select(F.col(id_col).alias("doc_id"))
                .distinct()
                .join(written.select("doc_id"), "doc_id", "left_anti")
                .select("doc_id", F.lit(-1).cast("int").alias("src_batch"))
                .write.mode("overwrite")
                .parquet(gen_dir(path, "empty_docs", meta_stub))
            )
        # total_dl is an exact integer, so avgdl derives from it
        # identically at build and after any number of
        # `text_index_append` merges — incremental and from-scratch
        # indexes stay bit-equal
        # the generation pointer flips HERE, in the same atomic commit
        # as the stats — before this line the build never existed for
        # readers; after it they resolve the new dirs (snapshot
        # isolation — see text_index_compact)
        stats = {
            "n_docs": int(n_docs),
            "total_dl": int(total_dl),
            "avgdl": (float(total_dl) / float(n_docs)) if n_docs else 0.0,
            "n_buckets": n_buckets,
            "n_empty": n_empty,
            "empties_tracked": True,
            "format": 2,
            "gen": g_new,
        }
        if cursor is not None:
            stats["last_stream_batch"] = cursor
        publish_generation(path, "stats.json", stats, _TEXT_GEN_FAMILIES)
        return n_buckets


def text_index_append(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    src_batch: int | None = None,
) -> dict:
    """Append a document batch to a persisted `text_index_write` index
    WITHOUT rebuilding — the lexical twin of `ivf_index_append`. At
    100 TB re-tokenizing everything ever indexed per arriving batch is
    the non-starter; appending tokenizes only the batch, parquet-appends
    its postings into the existing ``bucket=`` partition directories,
    and appends the batch's per-term df rows to ``path/terms`` as a
    SUM-MERGEABLE log (`text_index_query` sums df per term after the
    bucket prune — a handful of rows per term, one per append).

    Global stats merge exactly: ``n_docs`` and ``total_dl`` are integer
    counters in ``stats.json``, and ``avgdl`` is re-derived from them,
    so an incrementally-grown index serves BIT-IDENTICAL BM25 scores to
    one built from scratch over the same corpus (pytest-pinned).

    Contract: batch ``doc_id``s must be new to the index (an existing
    id would double-count in df/n_docs) — ingest pipelines get this for
    free from upstream exact-dedup (`bloom.probe_bloom` /
    `dedup_incremental`).
    Like the build, df/stats are computed from the SAME batch relation
    the postings write consumed; a nondeterministic upstream should be
    persisted first (foreachBatch batches already are).

    ``src_batch`` (streaming): a monotone batch id. A batch whose id is
    <= the recorded ``last_stream_batch`` is SKIPPED (committed-batch
    replay), and on success the id commits in the SAME stats.json write
    as the counters (one `atomic_write_json` — never torn) — so a crash
    replay can duplicate postings/df-log ROWS (bit-identical;
    `text_index_compact` heals them exactly) but can never double-count
    the global counters.

    The batch is tokenized ONCE and touched by NOTHING else: the
    tokenize explodes with ``explode_outer`` so a zero-token doc
    survives as one NULL-term sentinel row, the sentinel-bearing
    relation is persisted for the call, and the postings write, the df
    log, the ``(total_dl, n_docs, posting-doc count)`` counters AND the
    empty-doc id log all derive from those cached rows (``total_dl =
    sum(tf)`` over real terms — a doc's term frequencies sum to its
    dl), so an append pays no separate ``new_docs.count()`` Spark job (nor
    a second tokenize pass when empties exist) — that would be a
    measurable slice of the streaming sink's per-batch job floor.
    Single-writer: guarded by `index_writer_lock` — a concurrent append
    would lose one side's counter update (read-modify-write JSON).
    """
    stats_path = os.path.join(path, "stats.json")
    with index_writer_lock(path, "text_index_append"):
        meta = read_index_meta(stats_path)
        n_buckets = meta["n_buckets"]
        if (
            src_batch is not None
            and int(meta.get("last_stream_batch", -1)) >= src_batch
        ):
            return {
                "rows": 0,
                "n_docs": meta["n_docs"],
                "avgdl": meta["avgdl"],
                "appends": int(meta.get("appends", 0)),
                "skipped_replay": True,
            }

        # streaming job floor: tokenize with
        # explode_outer so zero-token docs survive as one NULL-term row
        # — the batch doc count and the empty-doc ids then derive from
        # the SAME persisted relation as the postings/df-log/counters,
        # instead of paying a separate new_docs.count() job (and a
        # second tokenize pass for empties) per append. Shared with
        # the build (`_doc_postings_outer`), which also fans out a small
        # or unsplittable batch before the tokenize map side.
        postings_all = _doc_postings_outer(new_docs, text_col, id_col)
        postings = postings_all.filter(F.col("term").isNotNull()).withColumn(
            "bucket", _term_bucket_col(F.col("term"), n_buckets)
        )
        if int(meta.get("format", 1)) >= 2:
            # replay-stable generation stamp (the sink passes its batch
            # id — a crash-window replay then writes BIT-identical rows
            # and the compaction heal stays exact); direct callers
            # default to the appends counter. Legacy format-1 indexes
            # stay unstamped: their base files lack the column and a
            # mixed-schema dir would corrupt plain reads.
            gen = int(src_batch) if src_batch is not None else int(
                meta.get("appends", 0)
            ) + 1
            postings = postings.withColumn("src_batch", F.lit(gen))
        postings_all = postings_all.persist()
        try:
            # append INTO the live generation: new files beside immutable
            # existing ones — a reader that listed earlier just doesn't
            # see the batch yet (no in-place mutation, ever). Guide §6:
            # REBALANCE on the layout column first — the
            # cached batch relation is partitioned by doc, so a direct
            # write emitted tasks x buckets files per append (672 at the
            # gate fixture, 2.4 s of commit overhead vs 1.0 s for the
            # same rows clustered; and appends COMPOUND the file count
            # until compaction, which is what makes per-append layout
            # hygiene matter more than at build).
            postings.hint("rebalance", "bucket").write.mode(
                "append"
            ).partitionBy("bucket").parquet(gen_dir(path, "postings", meta))
            (
                postings.groupBy("bucket", "term")
                .agg(F.count(F.lit(1)).alias("df"))
                .hint("rebalance", "bucket")
                .write.mode("append")
                .partitionBy("bucket")
                .parquet(gen_dir(path, "terms", meta))
            )
            # all three counters from ONE cached-relation job: the
            # NULL-term sentinel rows stand in for zero-token docs, so
            # n_docs needs no separate new_docs.count() action (the
            # `Dataset.observe` zero-job variant is deliberately not
            # used — see the build-path note above: it poisons the
            # session for later MLlib-model task closures)
            b_dl, n_posting_docs, b_docs = postings_all.select(
                F.coalesce(
                    F.sum(F.when(F.col("term").isNotNull(), F.col("tf"))),
                    F.lit(0),
                ),
                F.countDistinct(
                    F.when(F.col("term").isNotNull(), F.col("doc_id"))
                ),
                F.countDistinct("doc_id"),
            ).first()
            if meta.get("empties_tracked") and b_docs > n_posting_docs:
                # the batch contains zero-token docs: record their ids
                # (read straight from the cached sentinel rows — no
                # second tokenize pass; paid only when empties exist)
                # so a later takedown + compaction can subtract them
                # from n_empty exactly. The src_batch stamp is the same
                # replay-stable value as the postings', so a
                # crash-window replay appends bit-identical rows and
                # compaction's distinct() heals.
                postings_all.filter(F.col("term").isNull()).select(
                    "doc_id",
                    F.lit(
                        gen if int(meta.get("format", 1)) >= 2 else -1
                    ).cast("int").alias("src_batch"),
                ).write.mode("append").parquet(
                    gen_dir(path, "empty_docs", meta)
                )
        finally:
            postings_all.unpersist()

        if "total_dl" not in meta:
            # legacy index (pre-total_dl): dl sums are integers, so the
            # rounded product reconstructs the counter exactly
            meta["total_dl"] = int(round(meta["avgdl"] * meta["n_docs"]))
        meta["n_docs"] = int(meta["n_docs"]) + int(b_docs)
        meta["total_dl"] = int(meta["total_dl"]) + int(b_dl)
        meta["avgdl"] = (
            float(meta["total_dl"]) / float(meta["n_docs"])
            if meta["n_docs"]
            else 0.0
        )
        meta["appends"] = int(meta.get("appends", 0)) + 1
        meta["n_empty"] = int(meta.get("n_empty", 0)) + int(b_docs) - int(
            n_posting_docs
        )
        if src_batch is not None:
            meta["last_stream_batch"] = int(src_batch)
        atomic_write_json(stats_path, meta)
        return {
            "rows": int(b_docs),
            "n_docs": meta["n_docs"],
            "avgdl": meta["avgdl"],
            "appends": meta["appends"],
            "skipped_replay": False,
        }


def text_index_compact(spark, path: str) -> int:
    """Maintenance for an appended `text_index_write` index: fold
    postings back to one file per bucket directory and collapse the
    sum-mergeable df log to one row per (bucket, term). Single-writer.
    Returns the total data-file count.

    Publishes a NEW GENERATION instead of swapping in place: the folded
    postings and rebuilt df land in ``postings.gN``/``terms.gN`` beside
    the live dirs, and the ONE `atomic_write_json` that commits the
    recomputed stats also flips the ``gen`` pointer — so the commit
    point is a single atomic rename. Readers resolve their directories
    through the metadata they load first (`gen_dir`), which makes this
    MVCC for free: a query planned before the flip finishes against the
    old snapshot (its files are never touched), a query starting after
    it sees the compacted one. A crash ANYWHERE before the flip leaves
    the live index byte-identical (the half-written new generation is
    an unpublished orphan — fsck names it, `index_vacuum` removes
    it, and a re-run simply publishes the next number). There is no
    rows-missing window at all — strictly stronger than the previous
    rename-swap, whose post-swap/pre-stats crash needed the idempotent
    recompute to heal. Stale generations hold the pre-compaction
    snapshot (and its tombstones) until `index_vacuum`.

    Doubles as the crash healer for `text_index_ingest_sink`: postings
    are deduped with full-row distinct() — a (doc_id, term) posting is
    unique per honest corpus, so identical full rows can only be a
    replayed append (bit-identical tokenization, incl. the src_batch
    stamp) and distinct() removes exactly those. The df relation is
    REBUILT from the deduped postings (the ground truth), never merged
    from the possibly-over-counted log, and the stats counters are
    RECOMPUTED from the surviving postings (count/sum over the distinct
    (doc_id, dl) pairs, plus the ``n_empty`` zero-token-doc counter).

    Zero-token docs: for an ``empties_tracked`` index the ``empty_docs``
    list is folded exactly like the postings — distinct (replay heal),
    expire filter, anti-join tombstones — and ``n_empty`` is RECOMPUTED
    from the survivors, so a tombstoned or expired empty doc comes off
    n_docs exactly. A legacy index without the flag keeps the
    conservative carry-forward of its counter until
    `text_index_upgrade_empties` backfills the list and flips the flag;
    indexes written before ``n_empty`` existed treat it as 0, so their
    empty docs (if any) drop out of n_docs at first compaction."""
    return _text_compact(spark, path, None)


def _text_compact(spark, path: str, expire_below: int | None) -> int:
    """`text_index_compact`, optionally also dropping every doc whose
    ingest generation is below ``expire_below`` (`index_expire`)."""
    stats_path = os.path.join(path, "stats.json")
    with index_writer_lock(path, "text_index_compact"):
        # refuse over a PRE-GENERATION crash's rename-swap leftovers:
        # they may hold the only copy of data that needs manual recovery
        for name in ("postings", "terms"):
            for leftover in ("__compact__", "__old__"):
                p = os.path.join(path, f"{name}.{leftover}")
                if os.path.exists(p):
                    raise ValueError(
                        f"{p} exists — a pre-generation compaction crashed "
                        f"mid-swap; recover it manually before re-running"
                    )
        meta = read_index_meta(stats_path)
        new_meta = dict(meta, gen=next_generation(path, meta, _TEXT_GEN_FAMILIES))
        new_postings = fold_generation(
            spark, path, meta, new_meta["gen"], "postings", expire_below,
            "doc_id", "bucket",
        )
        new_terms = gen_dir(path, "terms", new_meta)
        (
            spark.read.parquet(new_postings)
            .groupBy("bucket", "term")
            .agg(F.count(F.lit(1)).alias("df"))
            .repartition(F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(new_terms)
        )
        # stats measured from the new generation (dl is functionally
        # dependent on doc_id, so distinct (doc_id, dl) is one row per
        # surviving non-empty doc) — one column-pruned scan
        n_live, dl_live = (
            spark.read.parquet(new_postings)
            .select("doc_id", "dl")
            .distinct()
            .agg(F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0)))
            .first()
        )
        n_empty = int(new_meta.get("n_empty", 0))
        if meta.get("empties_tracked"):
            # the zero-token doc list folds through the SAME pipeline
            # as the postings, and n_empty is recomputed from the
            # survivors — the exact accounting postings cannot provide
            n_empty = 0
            if os.path.isdir(gen_dir(path, "empty_docs", meta)):
                new_empty = fold_generation(
                    spark, path, meta, new_meta["gen"], "empty_docs",
                    expire_below, "doc_id", None,
                )
                n_empty = spark.read.parquet(new_empty).count()
            new_meta["n_empty"] = n_empty
        new_meta["n_docs"] = int(n_live) + n_empty
        new_meta["total_dl"] = int(dl_live)
        new_meta["avgdl"] = (
            float(new_meta["total_dl"]) / float(new_meta["n_docs"])
            if new_meta["n_docs"]
            else 0.0
        )
        # THE commit: stats + generation pointer in one atomic rename
        publish_generation(path, "stats.json", new_meta, _TEXT_GEN_FAMILIES)
        n = 0
        for d in (new_postings, new_terms):
            for _root, _dirs, files in os.walk(d):
                n += sum(1 for f in files if not f.startswith(("_", ".")))
        return n


def text_index_upgrade_empties(
    spark,
    path: str,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    strict: bool = True,
) -> dict:
    """One-shot migration of a LEGACY index (written before
    ``empties_tracked``) to exact zero-token-doc accounting: backfill the ``empty_docs`` family and flip the flag, so
    compaction can subtract tombstoned/expired empty docs from
    ``n_docs`` exactly instead of carrying the conservative counter
    forward forever.

    The implied empty count is derivable from the index alone
    (``n_docs`` minus the postings' distinct doc count — both
    pre-tombstone, matching the counter's semantics), and when it is
    ZERO the upgrade is free: flip the flag, done. The empty docs' IDS,
    however, are structurally unrecoverable from the index (postings
    cannot witness them — the whole reason the family exists), so a
    nonzero count needs ``corpus``: the SAME doc relation the index was
    built/appended from. The backfill is validated loudly — the
    corpus's zero-token ids must number exactly the implied count and
    none may own postings — because a wrong corpus would silently
    mis-account every later takedown.

    ``strict=False`` reports ``{"upgraded": False, "needs_corpus":
    True}`` instead of raising when the corpus is required but absent —
    how `index_maintain` folds the free half of this migration into
    the runbook. Single-writer (writer lock); idempotent (an
    already-tracked index is a no-op)."""
    stats_path = os.path.join(path, "stats.json")
    with index_writer_lock(path, "text_index_upgrade_empties"):
        meta = read_index_meta(stats_path)
        if meta.get("empties_tracked"):
            return {"upgraded": False, "tracked": True, "n_empty": int(meta.get("n_empty", 0))}
        postings = spark.read.parquet(gen_dir(path, "postings", meta)).select(
            "doc_id"
        )
        n_posting_docs = postings.select(F.countDistinct("doc_id")).first()[0]
        implied = int(meta["n_docs"]) - int(n_posting_docs)
        if implied < 0:
            raise ValueError(
                f"{path}: postings hold {n_posting_docs} distinct docs but "
                f"stats.json records n_docs={meta['n_docs']} — the index is "
                f"inconsistent (run index_fsck); refusing to upgrade"
            )
        if implied == 0:
            meta["n_empty"] = 0
            meta["empties_tracked"] = True
            atomic_write_json(stats_path, meta)
            return {"upgraded": True, "n_empty": 0}
        if corpus is None:
            if not strict:
                return {
                    "upgraded": False,
                    "needs_corpus": True,
                    "n_empty_implied": implied,
                }
            raise ValueError(
                f"{path}: {implied} empty docs are in n_docs but their ids "
                f"are unrecoverable from the index — pass corpus= (the doc "
                f"relation the index was built/appended from) to backfill "
                f"the empty_docs list"
            )
        empty_ids = (
            corpus.filter(F.size(search_tokens(F.col(text_col))) == 0)
            .select(F.col(id_col).alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=True)  # counted, overlap-checked, written
        )
        n_found = empty_ids.count()
        if n_found != implied:
            raise ValueError(
                f"{path}: the passed corpus has {n_found} zero-token docs "
                f"but the index implies {implied} — wrong corpus (a "
                f"mismatched backfill would mis-account every later "
                f"takedown); refusing to upgrade"
            )
        overlap = postings.join(empty_ids, "doc_id", "left_semi").count()
        if overlap:
            raise ValueError(
                f"{path}: {overlap} of the corpus's zero-token docs own "
                f"postings in the index — the corpus text differs from "
                f"index-time text; refusing to upgrade"
            )
        # src_batch=-1 (the build stamp): the original ingest generations
        # are unrecoverable, and -1 is the conservative never-expires
        # choice — exactly how build-time empties are stamped
        empty_ids.select(
            "doc_id", F.lit(-1).cast("int").alias("src_batch")
        ).coalesce(1).write.mode("overwrite").parquet(
            gen_dir(path, "empty_docs", meta)
        )
        meta["n_empty"] = implied
        meta["empties_tracked"] = True
        atomic_write_json(stats_path, meta)
        return {"upgraded": True, "n_empty": implied}


def _maintain_empties(spark, path: str) -> dict:
    """`index_maintain`'s BM25-only step: the free half of the legacy
    ``empties_tracked`` upgrade. When the index provably holds no empty
    docs the flag flips in place; otherwise the report names the
    corpus-requiring migration (`text_index_upgrade_empties(corpus=...)`)
    without failing the runbook."""
    if read_index_meta(os.path.join(path, "stats.json")).get("empties_tracked"):
        return {}
    return {"empties_upgrade": text_index_upgrade_empties(spark, path, strict=False)}


def _text_fsck_checks(spark, path: str, meta: dict, p: DataFrame, _n_distinct: int):
    """`index_fsck`'s BM25 checks over the live postings ``p``: counter
    drift — n_docs/total_dl measured from the distinct (doc_id, dl)
    pairs (+ the n_empty counter) vs the stats.json values; beyond
    pending tombstones (deleted docs stay inside the counts until
    compaction, Lucene delete-then-merge) that means a lost update —
    and df-log consistency: the summed df log vs the distinct
    (term, doc_id) posting count (over-count = replayed appends, healed
    by compaction). Returns ``(measured, findings)``."""
    findings = []
    n_live, dl_live = (
        p.select("doc_id", "dl")
        .distinct()
        .agg(F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0)))
        .first()
    )
    measured_docs = int(n_live) + int(meta.get("n_empty", 0))
    measured_dl = int(dl_live)
    if measured_docs != int(meta["n_docs"]) or measured_dl != int(
        meta.get("total_dl", measured_dl)
    ):
        findings.append(
            f"counter drift: stats.json says n_docs={meta['n_docs']} "
            f"total_dl={meta.get('total_dl')}, postings measure "
            f"n_docs={measured_docs} total_dl={measured_dl} — beyond "
            f"pending tombstones this means a lost update; run "
            f"text_index_compact to recompute"
        )

    df_log = (
        spark.read.parquet(gen_dir(path, "terms", meta))
        .agg(F.coalesce(F.sum("df"), F.lit(0)))
        .first()[0]
    )
    true_df = p.select("term", "doc_id").distinct().count()
    if int(df_log) != int(true_df):
        findings.append(
            f"df log sums to {df_log} but postings hold {true_df} distinct "
            f"(term, doc_id) pairs — replayed appends or pending deletes; "
            f"text_index_compact rebuilds df from ground truth"
        )
    return {"n_docs": measured_docs, "total_dl": measured_dl}, findings


def text_index_query(
    spark,
    path: str,
    queries: list[tuple],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    meta: dict | None = None,
) -> DataFrame:
    """Query a persisted `text_index_write` index: (query_id, doc_id,
    score, rank) — identical semantics to `bm25_topk` over the indexed
    corpus (parity pytest-pinned).

    ``queries`` is a driver-side list of (query_id, query_text): query
    terms must be tokenized on the driver anyway to compute their
    buckets, and a query batch is small by definition (the
    `ivf_index_query` contract). The bucket set is pushed as a static
    ``bucket IN (...)`` filter on BOTH the postings and terms scans —
    partition pruning, then an ordinary pushed (term IN ...) predicate
    inside the surviving directories.

    ``meta`` is the MVCC snapshot handle (the `ivf_index_query` twin):
    pass a previously-loaded ``stats.json`` dict to plan this query
    against that generation even if maintenance has flipped the pointer
    since — a retired generation's files (and its tombstones) stay
    complete on disk until `index_vacuum`. Default None loads the
    live metadata."""
    if meta is None:
        meta = read_index_meta(os.path.join(path, "stats.json"))
    n_buckets = meta["n_buckets"]

    q_rows = []
    for qid, qtext in queries:
        counts: dict[str, int] = {}
        for t in qtext.strip().lower().split():
            counts[t] = counts.get(t, 0) + 1
        for t, c in counts.items():
            q_rows.append((qid, t, c))
    if not q_rows:
        raise ValueError("text_index_query: no query terms")
    q_terms = spark.createDataFrame(q_rows, "query_id string, term string, qtf long")
    terms_list = sorted({t for _, t, _ in q_rows})
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms_list})

    # all directories resolve through the metadata read above: the
    # query is pinned to ONE generation even if a compaction publishes
    # a new one mid-flight (snapshot isolation — gen_dir)
    postings = anti_tombstones(
        spark,
        path,
        meta,
        spark.read.parquet(gen_dir(path, "postings", meta))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms_list)),
        "doc_id",
    )
    dfreq = (
        spark.read.parquet(gen_dir(path, "terms", meta))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms_list))
        # terms/ is a sum-mergeable log: one row per (term, build) plus
        # one per (term, append) — merge after the prune, never before
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    stats = spark.range(1).select(
        F.lit(meta["n_docs"]).alias("n_docs"), F.lit(meta["avgdl"]).alias("avgdl")
    )
    matched = (
        postings.select("term", "doc_id", "tf", "dl")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(q_terms), "term")
    )
    return _bm25_rank(matched, stats, k, k1, b)


def hybrid_search(
    spark,
    text_path: str,
    ann_path: str,
    queries: list[tuple],
    query_emb: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    rrf_k: int = 60,
    rerank: int = 4,
    rerank_corpus: DataFrame | None = None,
) -> DataFrame:
    """Hybrid retrieval over the PERSISTED serving stores in one call:
    BM25 top-k from the inverted index (`text_index_query`) + cosine
    top-k from the IVF index (`ivf_index_query`), RRF-fused
    (`rrf_fuse`) — the standard sparse+dense serving recipe with no
    score calibration. ``queries`` is the driver-side
    (query_id, query_text) list the lexical side needs; ``query_emb`` is
    the matching (query_id, embedding) relation for the dense side
    (query ids MUST agree — checked, because a mismatched id would
    silently produce single-leg fusion results: the sparse leg ranks it,
    the dense leg never sees it, and RRF quietly halves its evidence).
    The dense leg runs with ``exclude_self=False``: hybrid query ids are
    EXTERNAL (often strings like 'q1'), not members of the corpus id
    space, so the corpus-self-join exclusion would either throw on the
    string-vs-bigint comparison under ANSI mode or silently drop a doc
    whose vec_id collides with a numeric query id.
    Both legs inherit their index's pruning (term buckets / probe
    lists) and tombstone filters; each leg's top-k is tiny, so the
    fusion shuffle is bounded by n_queries * k * 2 rows.
    ``rerank`` / ``rerank_corpus`` pass through to the dense leg's
    `ivf_index_query` (the hash-gate entry widens the shortlist
    to cover every probed candidate and re-ranks against the original
    full-precision relation, so the fused ranking replays exactly in
    SQL; serving callers keep the compressed-tier defaults). Returns
    (query_id, doc_id, rrf_score, rank).
    """
    from geoscan_fraud_spark.operators.similarity import ivf_index_query

    sparse_ids = {str(qid) for qid, _ in queries}
    # the query set is driver-sized by contract (text_index_query
    # tokenizes it on the driver anyway), so this collect is bounded
    dense_ids = {
        str(r[0]) for r in query_emb.select(query_emb.columns[0]).collect()
    }
    if sparse_ids != dense_ids:
        only_sparse = sorted(sparse_ids - dense_ids)[:5]
        only_dense = sorted(dense_ids - sparse_ids)[:5]
        raise ValueError(
            f"hybrid_search: query ids disagree between the lexical "
            f"`queries` list and `query_emb` — only lexical: "
            f"{only_sparse}, only dense: {only_dense}; every query needs "
            f"both a text and an embedding or fusion silently degrades "
            f"to one leg"
        )

    sparse = text_index_query(spark, text_path, queries, k=k)
    dense = ivf_index_query(
        query_emb.select(
            F.col(query_emb.columns[0]).alias("vec_id"),
            F.col(query_emb.columns[1]).alias("embedding"),
        ),
        ann_path,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        rerank_corpus=rerank_corpus,
        exclude_self=False,
    ).select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        "rank",
    )
    sparse = sparse.select(
        F.col("query_id").cast("string").alias("query_id"), "doc_id", "rank"
    )
    return rrf_fuse([sparse, dense], k=k, rrf_k=rrf_k)


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion: each input is (query_id, <id_col>, rank);
    output (query_id, <id_col>, rrf_score, rank) top-k per query with

        rrf_score(d) = sum over lists of 1 / (rrf_k + rank_list(d))

    (Cormack, Clarke & Buettcher 2009 — rank-only, so BM25 scores and
    cosines fuse without calibration). Documents absent from a list
    simply contribute nothing for it. Pure relational: union -> one
    groupBy -> window top-k; every input is already a top-k (tiny), so
    the shuffles are bounded by n_queries * k * n_lists rows."""
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    parts = [
        r.select(
            "query_id",
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank"))).alias("__c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", id_col).agg(
        F.round(F.sum("__c"), 6).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rrf_score", "rank")
    )
