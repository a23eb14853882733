"""Corpus-level repeated-span removal — ExactSubstr dedup for Spark.

Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
Better", arXiv:2107.06499) deduplicate at SUBSTRING granularity: any
token span of length >= L that occurs more than once in the corpus is
removed in place, leaving the surrounding text intact. Their
implementation builds a suffix array over the concatenated corpus — an
inherently single-machine construction (the published code is a Rust
binary over a memory-mapped array) that has no distributed analog.

The Spark-native equivalent rests on a windowing identity: a repeated
region of M >= L tokens contains a repeated L-gram starting at every one
of its M-L+1 offsets, and the union of those grams' L-token windows
covers the region EXACTLY — no more, no less. So "find maximal repeated
spans" reduces to "count L-gram frequencies, mark the window of every
over-threshold gram occurrence, merge overlapping windows per document".
No suffix array, no global sort, no driver state.

100 TB shape (the same irreducible two-shuffle skeleton as the C4 line
dedup `operators/dedup.py::dedup_lines`):

* the gram inventory is one posexplode over a map-side slice+hash —
  ~tokens_per_doc rows per document, each an (id, pos, 8-byte xxhash64)
  triple; the frequency count shuffles ONLY those 8-byte keys with
  map-side combine (`count` partially aggregates), so the wire carries
  one (gram, count) pair per distinct gram per map task;
* marking joins the gram inventory against the over-threshold set on the
  hashed key — both sides are shuffle-partitioned by the same key, and
  AQE shrinks the repeated side to a broadcast when the corpus is mostly
  unique (the common case: Lee et al. report ~3% of tokens removed);
* reassembly is one groupBy(doc) collecting marked starts; span-merging
  and token filtering are native array folds inside the row — no second
  pass over the corpus.

Differences from the paper, stated honestly: (1) token boundaries are
whitespace (matching `token_frequencies` / `fit_unigram_lm`), not BPE
ids — run it after `bpe_segment` for token-exact parity; (2) rebuilt
text is the surviving tokens joined by single spaces (original
whitespace inside removed-adjacent regions is not preserved); (3) spans
are detected through 64-bit hashes of the token-array slice (no
join-separator a malicious token could forge), so two DIFFERENT
L-grams colliding requires an actual xxhash64 collision — at 2^64 the
expected collision at a trillion distinct grams is ~0.03 pairs, the
standard fingerprinting trade every MinHash/SimHash stage here already
makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gram_inventory(
    df: DataFrame, text_col: str, id_col: str, min_len: int
) -> DataFrame:
    """(id, pos, gh): every ``min_len``-gram occurrence, hashed map-side
    — xxhash64 over the token ARRAY slice itself (Spark's hash
    expressions fold arrays element-wise with length framing), so no
    join-separator exists for a pathological token to forge: two
    distinct gram sequences can only collide at the 2^-64 hash level,
    never structurally.

    The token array is staged as a REAL column before the per-position
    lambda: Catalyst re-evaluates non-trivial lambda
    subexpressions PER ELEMENT, so the original nested form re-ran the
    split+filter tokenization for every gram position — O(T^2)
    tokenizations per document on top of the honest O(T*L) hash work
    (same bug class as `text._with_winnow_mins`; the bench's noop-sink
    fix exposed the family). Staged, the lambda body only reads the
    already-computed array column."""
    toks = "__g_toks"
    tc = F.col(toks)
    n = F.size(tc)
    # docs shorter than min_len emit no grams (sequence(0, negative)
    # would count DOWN, not return empty — guard explicitly)
    starts = F.when(
        n >= F.lit(min_len), F.sequence(F.lit(0), n - F.lit(min_len))
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.withColumn(
            toks,
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""),
        )
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    starts,
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.xxhash64(F.slice(tc, i + 1, min_len)).alias("gh"),
                    ),
                )
            ).alias("g"),
        )
        .select(id_col, F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    )


def repeated_gram_starts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
    min_count: int = 1,
    keep: str = "none",
) -> DataFrame:
    """(id, pos) for every ``min_len``-gram occurrence whose gram appears
    in more than ``min_count`` documents-positions corpus-wide.

    ``keep='none'`` marks every occurrence (the span vanishes everywhere
    — the boilerplate-removal reading); ``keep='first'`` exempts each
    gram's globally first occurrence ordered by (id, pos) — inside the
    corpus-first copy of a repeated region every gram is at its first
    occurrence, so that copy survives intact while later copies are
    fully covered (the paper's remove-all-but-one reading, same
    first-occurrence convention as `dedup_lines`).
    """
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    grams = _gram_inventory(df, text_col, id_col, min_len)

    # counts and first occurrences via ONE window over the gram hash —
    # NOT a groupBy + self-join back: the aggregate branch and the join
    # branch would shuffle different row shapes below their exchanges
    # (partial-agg rows vs raw grams), so Catalyst cannot ReusedExchange
    # them and the token-explode — the corpus-sized stage — would run
    # TWICE. The window shuffles the gram inventory once and evaluates
    # both aggregates over the whole-partition frame. (A flooded gram
    # concentrates its occurrences in one task either way — identical
    # skew to the join formulation, and the output stays linear in
    # occurrences; see the flood test.)
    from pyspark.sql import Window

    w = Window.partitionBy("gh")
    marked = grams.withColumn("cnt", F.count(F.lit(1)).over(w))
    if keep == "first":
        marked = marked.withColumn(
            "first_occ",
            F.min(F.struct(F.col(id_col), F.col("pos"))).over(w),
        ).filter(
            ~(
                (F.col(id_col) == F.col(f"first_occ.{id_col}"))
                & (F.col("pos") == F.col("first_occ.pos"))
            )
        )
    return marked.filter(F.col("cnt") > min_count).select(id_col, "pos")


def merge_start_spans(starts_col, span_len: int):
    """Sorted gram-start array -> merged array<struct<s,e>> half-open
    token intervals: a linear native fold that extends the last interval
    while starts overlap it (starts ascending + equal span length means
    a new overlapping start always extends the end forward)."""
    empty = F.array().cast("array<struct<s:int,e:int>>")
    return F.aggregate(
        F.array_sort(starts_col),
        empty,
        lambda acc, x: F.when(
            (F.size(acc) == 0) | (x > F.element_at(acc, -1)["e"]),
            F.concat(
                acc,
                F.array(
                    F.struct(x.alias("s"), (x + F.lit(span_len)).alias("e"))
                ),
            ),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (x + F.lit(span_len)).alias("e"),
                    )
                ),
            )
        ),
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
    min_count: int = 1,
    keep: str = "none",
) -> DataFrame:
    """ExactSubstr dedup: delete every maximal token span of length >=
    ``min_len`` that occurs more than ``min_count`` times corpus-wide,
    keeping the rest of each document in order. Returns
    (id, text, n_tokens, removed_tokens) for EVERY input document —
    untouched docs pass through with removed_tokens=0 (their text is
    normalized to single-space joins, keeping the output column
    uniformly comparable).

    ``keep='first'`` leaves the corpus-first occurrence of each repeated
    region in place (the paper's semantics); the default ``'none'``
    drops all occurrences (boilerplate removal). See module docstring
    for the scale analysis and the stated deltas from the suffix-array
    reference implementation.
    """
    marked = repeated_gram_starts(
        df, text_col, id_col, min_len=min_len, min_count=min_count, keep=keep
    )
    return _rebuild_without_spans(df, marked, text_col, id_col, min_len)


def _rebuild_without_spans(
    df: DataFrame,
    marked: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int,
) -> DataFrame:
    """(id, text, n_tokens, removed_tokens) for EVERY input doc, with the
    tokens covered by any marked (id, pos) window deleted: one
    collect_list shuffle over the marked rows, broadcast-joined back,
    then native interval-merge + indexed token filter inside the row."""
    per_doc = marked.groupBy(id_col).agg(
        F.collect_list("pos").alias("__starts")
    )
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    # bind the merged intervals to a column BEFORE the per-token filter:
    # inlining the fold into the filter lambda would re-run the O(k) merge
    # per token (higher-order functions don't reliably CSE)
    out = df.join(per_doc, id_col, "left_outer").withColumn(
        "__spans",
        merge_start_spans(
            F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
            min_len,
        ),
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__spans"), lambda iv: (i >= iv["s"]) & (i < iv["e"])
        ),
    )
    return out.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias(text_col),
        F.size(toks).alias("n_tokens"),
        (F.size(toks) - F.size(kept)).alias("removed_tokens"),
    )


def span_gram_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
) -> DataFrame:
    """(gh, cnt) gram-frequency rows for a batch — the persistable state
    of incremental ExactSubstr. Counts are over the batch's RAW text
    (pre-removal): the one-shot semantics count every occurrence ever
    ingested, including ones later deleted from an output document, so
    the store must too. ~16 bytes per distinct gram per batch; roll up
    across batches with a group-sum (`merge_span_index`)."""
    return (
        _gram_inventory(df, text_col, id_col, min_len)
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_span_index(index: DataFrame) -> DataFrame:
    """Fold multiple batches' (gh, cnt) rows into one row per gram —
    counts are plain sums, so per-batch indexes merge exactly (the same
    mergeable-rollup property as the profiling sketches)."""
    return index.groupBy("gh").agg(F.sum("cnt").alias("cnt"))


def dedup_span_store(raw: DataFrame, pending: bool | None = None) -> DataFrame:
    """Persisted-store read guard: collapse the transient physical
    duplicates a crashed `sources/io.compact_index` swap can leave
    behind (the same row visible BOTH as its original ``batch_id=K``
    partition AND inside the ``batch_id=-1`` base with ``src_batch=K``),
    returning clean ``(gh, cnt)`` rows for `merge_span_index`.

    A COUNT-summing store reads such a duplicate as a 2x over-count —
    over-removal, quality-conservative but data-lossy — so unlike the
    set-union signature store this layout is NOT naturally idempotent
    under compaction recovery. Each row's origin batch is
    ``coalesce(src_batch, batch_id)`` (live partitions carry only
    ``batch_id``; folded base rows keep their origin as ``src_batch``),
    and per store contract a given gram has at most ONE legitimate row
    per origin batch (`span_gram_index` group-sums per batch), so
    dropping duplicate ``(gh, origin)`` keys removes exactly the crash
    artifacts. Rows of UNKNOWN origin (``src_batch = -1``, written when
    re-compacting an older base that lost provenance) are structurally
    non-dedupable and pass through untouched — for those, compact's
    manual crash recovery remains the contract until the one-shot
    `migrate_span_store_origins` collapses them into dedupable
    ``MIGRATED_ORIGIN`` rows. One extra store-sized (never
    corpus-sized) shuffle on the gram hash.

    ``pending`` short-circuits the crashed-publish detection: a caller that KNOWS whether a ``batch_id=-3`` publish dir is
    present — the streaming sink, which calls `heal_pending_base` at
    batch start so the state cannot exist on its hot path, or any
    caller holding the store path (``os.path.isdir(pending_base_dir
    (path))`` is the one-syscall test) — passes True/False and skips
    the detection aggregate entirely. ``None`` (a bare DataFrame, no
    path knowledge) keeps the self-contained in-plan scan."""
    cols = set(raw.columns)
    if "batch_id" in cols and pending is not False:
        # a crashed publish-then-retire compaction (sources/io) can show
        # BOTH the old base (batch_id=-1) and the publish dir
        # (batch_id=-3). The publish dir is the post-maintenance TRUTH
        # for the base — compact folds a superset, expire a filtered
        # subset, but in every case its rows are what the base is ABOUT
        # to become — so when pending rows are present the (stale) base
        # rows are dropped wholesale. This covers the one shape the
        # (gh, origin) dedup below cannot: provenance-free base rows
        # (src_batch=-1) duplicated into the publish dir, which would
        # otherwise 2x their counts (over-removal). When ``pending`` is
        # None the presence test is an extra column-pruned aggregate
        # over the signature-sized store, broadcast as a lazy scalar.
        if pending is True:
            raw = raw.filter(F.col("batch_id") != -1)
        else:
            detected = raw.agg(
                F.max((F.col("batch_id") == -3).cast("int")).alias("__pending")
            )
            raw = raw.crossJoin(F.broadcast(detected)).filter(
                ~((F.col("batch_id") == -1) & (F.col("__pending") == 1))
            )
    if "src_batch" in cols and "batch_id" in cols:
        origin = F.coalesce(F.col("src_batch"), F.col("batch_id"))
    elif "batch_id" in cols:
        origin = F.col("batch_id")
    elif "src_batch" in cols:
        origin = F.col("src_batch")
    else:
        return raw.select("gh", "cnt")
    tagged = raw.select("gh", "cnt", origin.alias("__origin"))
    known_origin = F.col("__origin").isNotNull() & (F.col("__origin") != -1)
    known = tagged.filter(known_origin).dropDuplicates(["gh", "__origin"])
    # NULL-safe complement: ~(null) is null and would silently drop rows
    unknown = tagged.filter(
        F.col("__origin").isNull() | (F.col("__origin") == -1)
    )
    return known.unionByName(unknown).select("gh", "cnt")


#: The reserved origin `migrate_span_store_origins` stamps on collapsed
#: legacy rows: a KNOWN origin for `dedup_span_store` (dedupable), but
#: still negative so `sources/io.expire_index` ages it with the oldest
#: data (the documented freshness-conservative reading of unknown age).
MIGRATED_ORIGIN = -2


def migrate_span_store_origins(spark, index_path: str) -> int:
    """One-shot migration for a span-gram store whose ``batch_id=-1``
    base carries provenance-free rows (``src_batch = -1`` from an older
    re-compaction, or an older base with no ``src_batch`` column at
    all): collapse ALL unknown-origin rows into ONE group-summed row per
    gram, stamped ``src_batch = MIGRATED_ORIGIN``. Returns the number of
    unknown-origin rows collapsed (0 = nothing to migrate).

    Why this closes the `dedup_span_store` caveat: the store contract is
    at most one legitimate row per (gh, origin), which is exactly what
    the group-sum restores for the migrated generation — so a FUTURE
    crashed compaction that duplicates a migrated row is again detected
    and dropped by the (gh, origin) dedup, and `expire_index` can age a
    base it previously had to refuse (no ``src_batch`` column).

    PRECONDITION (the one thing the migration cannot check): the store
    must be CLEAN of crash artifacts when this runs — a lingering
    half-swapped duplicate would be group-summed INTO the migrated row
    and the over-count baked in permanently. `heal_pending_base` runs
    first (it completes a crashed publish mechanically — the
    publish dir holds every folded row, so healing cannot duplicate);
    only a legacy ``__old__`` leftover still refuses for manual
    recovery. Single-writer, like every store maintenance op; commits
    through the same publish-then-retire sequence as `compact_index`
    (rows never transiently missing)."""
    import os

    from geoscan_fraud_spark.sources.io import (
        _publish_folded_base,
        heal_pending_base,
    )

    heal_pending_base(index_path)
    base = os.path.join(index_path, "batch_id=-1")
    if not os.path.isdir(base):
        raise ValueError(
            f"{base} does not exist — nothing to migrate (origins only go "
            f"missing through compaction into the base)"
        )
    df = spark.read.parquet(base)
    if "src_batch" in df.columns:
        unknown_origin = F.col("src_batch").isNull() | (
            F.col("src_batch") == -1
        )
        unknown = df.filter(unknown_origin)
        # NULL-safe complement: ~(null) is null and would drop rows
        known = df.filter(
            F.col("src_batch").isNotNull() & (F.col("src_batch") != -1)
        )
    else:
        unknown, known = df, None
    n_unknown = unknown.count()
    if n_unknown == 0:
        return 0
    migrated = (
        unknown.groupBy("gh")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("src_batch", F.lit(MIGRATED_ORIGIN))
        .select("gh", "cnt", "src_batch")
    )
    out = (
        migrated
        if known is None
        else known.select("gh", "cnt", "src_batch").unionByName(migrated)
    )
    tmp = index_path.rstrip("/") + ".__compact__"
    out.write.mode("overwrite").parquet(tmp)
    _publish_folded_base(index_path, tmp, [-1])
    return int(n_unknown)


def remove_spans_against_index(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
    min_count: int = 1,
    _prune_store: bool = True,
) -> DataFrame:
    """Incremental ExactSubstr: delete from ``batch`` every >= min_len
    token span whose gram totals (store + this batch) exceed
    ``min_count``, exempting occurrences that are the GLOBAL first —
    i.e. the gram is absent from the store AND this is its first
    (id, pos) within the batch. keep='first' is the only semantics that
    makes sense incrementally (earlier batches are immutable — their
    copies cannot be retro-deleted), and with ``min_count=1`` the
    batch-by-batch outputs are EXACTLY the one-shot
    `remove_repeated_spans(keep='first')` outputs over the concatenated
    corpus, provided ids arrive in increasing order (arrival-order
    firsts, the same convention as `incremental_ingest_sink`); the
    equivalence is pinned in tests. With ``min_count > 1`` a gram that
    only crosses the threshold in a LATER batch under-removes earlier
    copies — the inherent cost of not seeing the future.

    Plan shape per batch (the `dedup_against_index`
    batch-touched-bucket prune applied to this gate's identical join
    shape): the batch gram inventory shuffles once by gram hash (window:
    batch count + batch first), and the STORE side is left-semi pruned
    to the batch's own distinct gram hashes BEFORE the merge group-sum —
    the batch key set broadcasts (bounded by the batch's token
    positions, ~8 B per distinct gram — O(batch), never O(store)), so
    untouched grams (the overwhelming store majority at scale) never
    leave the map-side scan and the per-batch group-sum + join shuffle
    only whole TOUCHED gram groups. Output-identical by construction:
    group-sums per kept gh see every store row of that gh, a pruned-away
    gh had no batch occurrence to mark, and the left_outer NULLness that
    drives ``is_global_first`` is unchanged. Catalyst pushes the
    semi-join below the sink's `dedup_span_store` aggregate (gh is a
    grouping key), so the crash-dup collapse also runs on touched grams
    only. ``_prune_store=False`` keeps the unpruned reference plan for
    the identity test (and for a caller whose batch gram inventory is
    genuinely too large to broadcast). Measured (size ladder, disk-backed
    synthetic stores, fixed 2000-doc batch): the pruned plan shuffles
    ZERO store bytes at every rung while the unpruned plan's shuffle
    grows linearly with the store (11.7 MB at 1M gram rows -> 93.5 MB at
    8M, wall 1.2 s flat vs 5.4 s and climbing) — on a real cluster that
    unpruned shuffle is the whole store on the wire per micro-batch,
    terabytes at a 10^11-row gram store. (Without the
    `_gram_inventory` staging the batch-side tokenization noise drowns
    this out locally; the divergence is the plan shape.) The rebuild is the shared
    broadcast-join + interval fold."""
    from pyspark.sql import Window

    grams = _gram_inventory(batch, text_col, id_col, min_len)
    w = Window.partitionBy("gh")
    g = grams.withColumn("batch_cnt", F.count(F.lit(1)).over(w)).withColumn(
        "batch_first", F.min(F.struct(F.col(id_col), F.col("pos"))).over(w)
    )
    idx_src = index
    if _prune_store:
        # distinct() IS worth it here, unlike the dedup gates' key sets:
        # the raw build side is one row per token position and grams
        # repeat heavily, so the dedup shrinks the broadcast payload by
        # the batch's repetition factor
        idx_src = index.join(
            F.broadcast(grams.select("gh").distinct()), "gh", "left_semi"
        )
    idx = merge_span_index(idx_src.select("gh", "cnt")).withColumnRenamed(
        "cnt", "store_cnt"
    )
    j = g.join(idx, "gh", "left_outer")
    total = F.coalesce(F.col("store_cnt"), F.lit(0)) + F.col("batch_cnt")
    is_global_first = F.col("store_cnt").isNull() & (
        (F.col(id_col) == F.col(f"batch_first.{id_col}"))
        & (F.col("pos") == F.col("batch_first.pos"))
    )
    marked = j.filter(
        (total > F.lit(int(min_count))) & ~is_global_first
    ).select(id_col, "pos")
    return _rebuild_without_spans(batch, marked, text_col, id_col, min_len)
