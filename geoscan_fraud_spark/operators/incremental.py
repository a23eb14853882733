"""Incremental dedup against a persisted MinHash signature store.

Batch dedup (`operators/dedup.py`) assumes the whole corpus is in hand.
A 100 TB training-data pipeline doesn't work that way: the corpus is an
append-only sequence of crawl/ingest batches, and re-running LSH over
100 TB for every incoming 100 GB batch is a non-starter. The standard
shape (what the reference's TTL'd online store, `02_geofraud_fraud.py:
268-287`, is for model scores) is a compact *signature index* — one
`(id, array<bigint>)` row per retained document, ~8·H bytes each, ~3-4
orders of magnitude smaller than the corpus — persisted between runs;
each new batch is deduped (a) against the index and (b) within itself,
and the survivors' signatures are appended to the index.

Everything here is signature-only: similarity between a new doc and an
indexed doc is the MinHash *estimate* of Jaccard (fraction of equal
signature components — the unbiased textbook estimator; stderr
~ sqrt(j(1-j)/H), ±0.07 at H=48), because the indexed documents' text
is by design cold — the whole point of the index is never touching it
again. Batch-internal pairs use the same estimator for consistency (the
full-text-verify path is the batch operator `minhash_dedup`).

100 TB shape: the index never shuffles wholesale — the index
side is LEFT-SEMI PRUNED to the batch's own (band, band-hash) key set
(broadcast, bounded by bands x batch docs) before the hot-bucket window
and the candidate join, so the per-batch store cost is one map-only
scan plus shuffles over TOUCHED buckets only (O(batch), not O(store));
the candidate restriction joins touch only signature rows whose ids
appear in a candidate pair. Hot buckets are star-guarded BY DEFAULT
(``max_bucket=256``): an oversized index bucket collapses to
its min-id hub (batch docs still test against the family's
representative — a flood keeps being suppressed, never admitted) and
the batch-internal self-join emits hub edges instead of all pairs; the
embedding-store path keeps the opt-in drop guard (`_cap_buckets`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.components import connected_components
from geoscan_fraud_spark.operators.dedup import (
    _cap_buckets,
    _star_capped_buckets,
    minhash_signature_table,
)


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    sig_hash: str = "xxhash64",
    bands: int | None = None,
) -> DataFrame:
    """(id, sig array<bigint>[, bands]) signature rows — the persistable
    corpus index. One row per document, 8·num_hashes bytes of signature;
    write with `sources.io.write_table` and read back for the next batch.

    The array packing (vs H named columns) keeps the persisted schema
    independent of H-at-write-time readers and makes the estimator a
    single `zip_with` fold.

    ``bands`` additionally PRE-COMPUTES the LSH
    band-hash array into a ``bands`` column: without it,
    `dedup_against_index` must re-hash the ENTIRE index into band
    buckets on every batch — at a billion-row store that is a full map
    pass (md5/xxhash64 over every band of every row) per ingest cycle.
    Stored, the recurring per-batch cost on the index side drops to a
    posexplode of the ready array. ~8 (xxhash64) or ~32 (md5) bytes per
    band per row of extra store; the batch side still hashes fresh."""
    sig = minhash_signature_table(df, text_col, id_col, n, num_hashes, sig_hash)
    out = sig.select(
        "id",
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig"),
    )
    if bands is not None:
        out = out.withColumn(
            "bands", _band_hash_array(num_hashes, bands, sig_hash)
        )
    return out


def _band_hash_array(num_hashes: int, bands: int, sig_hash: str):
    """Band-hash array column over ``sig`` — same band hashing as
    `minhash_candidate_pairs` (md5 over '|'-joined decimal components
    for the oracle-portable family, xxhash64 otherwise), so an index
    written by one path buckets identically to a batch banded by the
    other run of the same configuration."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    r = num_hashes // bands
    if sig_hash == "md5":
        return F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.element_at("sig", b * r + j + 1) for j in range(r)],
                    )
                )
                for b in range(bands)
            ]
        )
    if sig_hash == "xxhash64":
        return F.array(
            *[
                F.xxhash64(*[F.element_at("sig", b * r + j + 1) for j in range(r)])
                for b in range(bands)
            ]
        )
    raise ValueError(f"sig_hash must be 'xxhash64' or 'md5', got {sig_hash!r}")


def _banded_sig(
    sig_df: DataFrame, num_hashes: int, bands: int, sig_hash: str
) -> DataFrame:
    """(id, band, bh) band-bucket rows from array signatures. If the
    input carries a pre-computed ``bands`` column (a store written by
    `minhash_index(bands=...)`), it is exploded directly — the stored
    band count is validated per row against the requested ``bands``
    (`raise_error` fail-fast, the `estimated_jaccard` convention) since
    a store banded at a different width would silently miss candidates.
    Otherwise the band hashes are computed from ``sig``."""
    if "bands" in sig_df.columns:
        checked = F.when(
            F.size("bands") == F.lit(bands), F.col("bands")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("stored band count ("),
                    F.size("bands").cast("string"),
                    F.lit(f") != requested bands ({bands}) — rebuild the "),
                    F.lit("index or pass the store's band width"),
                )
            )
        )
        return sig_df.select("id", F.posexplode(checked).alias("band", "bh"))
    return sig_df.select(
        "id",
        F.posexplode(_band_hash_array(num_hashes, bands, sig_hash)).alias(
            "band", "bh"
        ),
    )


def estimated_jaccard(sig_a, sig_b):
    """MinHash Jaccard estimate: fraction of equal signature components.
    Native fold over the zipped arrays — a double in [0, 1].

    Mismatched signature lengths raise at runtime (`raise_error`) instead
    of silently under-estimating: zip_with would null-pad the shorter
    side, every padded slot would count as unequal, and an index built
    with a different ``num_hashes`` would quietly stop matching."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0))
    est = F.aggregate(eq, F.lit(0), lambda s, x: s + x) / F.size(sig_a)
    return F.when(F.size(sig_a) == F.size(sig_b), est).otherwise(
        F.raise_error(
            F.concat(
                F.lit("estimated_jaccard: signature length mismatch ("),
                F.size(sig_a).cast("string"),
                F.lit(" vs "),
                F.size(sig_b).cast("string"),
                F.lit(") — index and batch must share num_hashes"),
            )
        )
    )


def _resolve_prune(prune_index, key_count_fn, prune_max_keys: int) -> bool:
    """Resolve the public ``prune_index`` tri-state:
    True/False pass through with zero extra work; ``'auto'`` pays one
    cheap count (the callable) and disables the broadcast prune when
    the build side would exceed ``prune_max_keys`` keys — the
    large-ad-hoc-batch escape hatch that used to be a private flag."""
    if prune_index == "auto":
        return key_count_fn() <= prune_max_keys
    if isinstance(prune_index, bool):
        return prune_index
    raise ValueError(
        f"prune_index must be True, False, or 'auto', got {prune_index!r}"
    )


def dedup_against_index(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    sig_hash: str = "xxhash64",
    max_bucket: int | None = 256,
    precollapse_exact: bool = True,
    prune_index: bool | str = True,
    prune_max_keys: int = 2_000_000,
    _sig_out: dict | None = None,
) -> DataFrame:
    """Dedup an incoming batch against a signature index AND within
    itself; return the kept rows of ``new_df`` (append their
    `minhash_index` rows to the store afterwards).

    Drop rules (component-level, consistent with `minhash_dedup`'s
    connected-components collapse):
      1. a new doc whose estimated Jaccard vs ANY indexed doc clears
         ``threshold`` is dropped (its cluster is already represented);
      2. batch-internal near-dup components keep their min-id member —
         unless the component contains an index-matched doc, in which
         case the WHOLE component is dropped (transitively represented).

    ``precollapse_exact`` (default on — the hot-bucket guard, same as
    `minhash_dedup`): signature-identical batch docs collapse to their
    min-id representative before any banding, so k copies of a
    boilerplate page cost one band row instead of a k²/2 self-join
    blow-up. Result-preserving: copies pair with their representative at
    estimate 1.0 ≥ any threshold, land in its component, and are dropped
    whether the representative survives or not — exactly what excluding
    them up front does. The collapse groups BY the signature array on
    the already-checkpointed signature table (one small shuffle of
    ~8·H-byte rows).

    ``max_bucket`` (default 256): hot band buckets are
    star-guarded — an oversized INDEX bucket collapses to its min-id
    hub (every batch doc still estimates against the family's
    representative, so a near-dup flood keeps being SUPPRESSED; the old
    opt-in drop guard admitted the whole incoming flood, the one
    failure mode a dedup gate must not have), and the batch-internal
    self-join emits hub edges instead of all pairs (verified by the
    same estimate, collapsed by the same components). Below the cap,
    semantics are bit-identical to unguarded banding.

    The estimator needs identical (n, num_hashes, sig_hash) between the
    index build and this call; banding (``bands``) may differ run-to-run
    — it only changes candidate recall, not the estimate — EXCEPT when
    the index carries a pre-computed ``bands`` column
    (`minhash_index(bands=...)`): stored band hashes are only valid at
    their build width, so a mismatch fail-fasts instead of silently
    missing candidates.

    ``_sig_out`` (internal): when a dict is passed, the eagerly
    checkpointed batch signature table lands in it under ``'sigs'`` —
    the ingest sinks reuse it to derive the store's index rows for the
    KEPT ids instead of re-shingling + re-minhashing the survivors'
    text from scratch (a full second signature pass per micro-batch).
    Value-identical by construction: a kept doc's (id, sig) row here IS
    `minhash_index` of its text."""
    if precollapse_exact:
        # signature pass and exact-dup collapse in ONE materialization
        # (guide §2.4): groupBy(sig).min(id) IS "full sig table, then
        # semi-join to min-id reps" — same (rep_id, sig)
        # rows — but as one eager checkpoint instead of two chained
        # ones (the full table was only ever consumed collapsed).
        new_sig = (
            minhash_index(new_df, text_col, id_col, n, num_hashes, sig_hash)
            .groupBy("sig")
            .agg(F.min("id").alias("id"))
            .select("id", "sig")
            .localCheckpoint(eager=True)
        )
        new_df = new_df.join(
            new_sig.select(F.col("id").alias(id_col)), id_col, "left_semi"
        )
    else:
        new_sig = minhash_index(
            new_df, text_col, id_col, n, num_hashes, sig_hash
        ).localCheckpoint(eager=True)
    if _sig_out is not None:
        _sig_out["sigs"] = new_sig
    idx = index.select(F.col("id").alias("oid"), F.col("sig").alias("osig"))

    nb = _banded_sig(new_sig, num_hashes, bands, sig_hash)
    # a store written with minhash_index(bands=...) carries pre-computed
    # band hashes — _banded_sig explodes them instead of re-hashing the
    # whole index every batch
    idx_for_bands = index.select(
        "id",
        "sig",
        *(["bands"] if "bands" in index.columns else []),
    )
    ib = _banded_sig(idx_for_bands, num_hashes, bands, sig_hash).select(
        "band", "bh", F.col("id").alias("oid")
    )
    # prune the index side to BATCH-TOUCHED buckets before anything
    # shuffles it: the batch's distinct (band, bh) key
    # set is bounded by bands x batch docs, so it broadcasts, and the
    # left-semi keeps whole touched buckets — the hot-bucket window
    # below and the stage-1 candidate join see bit-identical rows for
    # every bucket the batch can reach, while untouched buckets (the
    # overwhelming store majority at scale) never leave the map-side
    # scan. Without this, every micro-batch repartitioned ALL banded
    # store rows twice (window + join) to admit a few thousand docs —
    # per-batch work O(store), not O(batch).
    #
    # ``prune_index`` (public) controls it:
    #   True (default)  — always prune. The broadcast build side is
    #       bands x batch-doc rows of (int, long); for trigger-bounded
    #       micro-batches (the intended caller) that is a few MB.
    #   'auto'          — prune only while bands x |batch| stays under
    #       ``prune_max_keys``; above it the prune auto-disables so a
    #       huge ad-hoc batch cannot blow the driver/broadcast memory
    #       ceiling (the count reads the eagerly-checkpointed signature
    #       blocks — one cheap cached-count job, which is why 'auto' is
    #       not the default on the streaming path: the gates keep their
    #       per-batch job floor flat and bound batch size at the
    #       trigger instead).
    #   False           — never prune (the reference unpruned plan, kept
    #       alive for the bit-identity tests).
    # No distinct() on the broadcast build side: a semi-join probe only
    # checks key PRESENCE, so duplicate keys change nothing, and the
    # dedup would cost an extra shuffle stage per micro-batch just to
    # shrink a bands-x-batch-docs-row broadcast that is tiny either way.
    prune = _resolve_prune(
        prune_index, lambda: new_sig.count() * bands, prune_max_keys
    )
    if prune:
        batch_keys = nb.select("band", "bh")
        ib = ib.join(F.broadcast(batch_keys), ["band", "bh"], "left_semi")
    nb_small, nb_star = nb, None
    if max_bucket is not None:
        # index side (the star-guard idea applied to ingest): a HOT
        # index bucket collapses to its min-id representative instead of
        # being dropped. The batch x index join output for that bucket is
        # then m_batch x 1 (linear), and every batch doc still tests its
        # estimated Jaccard against the family's hub — a flood keeps
        # being suppressed, where the old drop guard ADMITTED the whole
        # incoming flood (the worst failure mode for a dedup gate: a
        # missing suppression silently double-ingests). Under-suppression
        # is bounded to batch docs similar to the family but not its hub.
        wi = Window.partitionBy("band", "bh")
        ib = (
            ib.withColumn("__bsz", F.count(F.lit(1)).over(wi))
            .withColumn("__hub", F.min("oid").over(wi))
            .filter(
                (F.col("__bsz") <= max_bucket)
                | (F.col("oid") == F.col("__hub"))
            )
            .drop("__bsz", "__hub")
        )
        # batch side: the stage-2 SELF-join gets the same star split as
        # minhash_dedup (hot buckets emit hub edges; components collapse
        # through the verified hub). Stage 1 keeps the FULL batch side —
        # each batch doc needs its own chance to match the index, and the
        # index side above already bounds that join.
        nb_small, nb_star = _star_capped_buckets(
            nb, ["band", "bh"], max_bucket
        )

    # stage 1 — batch vs index: band-bucket candidates, then estimate.
    # NO distinct on the candidate lists (here and stage 2) — the
    # dedup-before-verify exchange cost more than it saved: a pair
    # colliding in k bands re-verifies k times (a cheap zip_with over
    # the signatures, map-side through broadcast joins), and every
    # consumer already absorbs duplicates (`matched` has its own
    # distinct; the drop rule's union-find and the fallback
    # connected_components absorb duplicate edges). Measured on the
    # stream-shaped fixture: 2 fewer exchanges/jobs, −12% gate wall,
    # kept set bit-identical.
    cand_ix = nb.join(ib, ["band", "bh"]).select("id", "oid")
    matched = (
        cand_ix.join(new_sig, "id")
        .join(idx, "oid")
        .filter(estimated_jaccard(F.col("sig"), F.col("osig")) >= threshold)
        .select("id")
        .distinct()
        # materialization is `_component_drop`'s decision: the
        # default driver path collects this once; the distributed
        # fallback checkpoints it there (consumed twice)
    )

    # stage 2 — batch-internal: band self-join, estimate, components
    a = nb_small.select("band", "bh", F.col("id").alias("id_a"))
    b = nb_small.select("band", "bh", F.col("id").alias("id_b"))
    cand_in = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if nb_star is not None:
        # star edges are CANDIDATES like any other — they pass the same
        # estimated-Jaccard verification below before linking components
        cand_in = cand_in.unionByName(nb_star)
    # no distinct — see the stage-1 note (duplicates re-verify cheaply
    # and are absorbed by the component collapse)
    sa = new_sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = new_sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        cand_in.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(estimated_jaccard(F.col("sig_a"), F.col("sig_b")) >= threshold)
        .select("id_a", "id_b")
    )
    return _component_drop(new_df, pairs, matched, id_col)


#: driver-side drop-rule gate: pair lists at or under this row count are
#: collected and resolved with the shared union-find instead of running
#: the distributed component machinery per micro-batch (monkeypatchable;
#: resolved at call time)
_DROP_DRIVER_MAX_PAIRS = 1_000_000


def _driver_drop_ids(pairs_pdf, matched_ids) -> set:
    """The `_component_drop` rule over a collected pair frame: same
    min-label union-find as `connected_components`' small-graph path
    (shared helper — identical labels by construction), then the same
    three drop clauses, in plain Python sets."""
    import numpy as np

    from geoscan_fraud_spark.operators.components import (
        _min_label_union_find,
    )

    uv = np.concatenate(
        [pairs_pdf["id_a"].to_numpy(), pairs_pdf["id_b"].to_numpy()]
    )
    # np.unique sorts, so the min root INDEX is also the min vertex id
    ids, inv = np.unique(uv, return_inverse=True)
    m = len(pairs_pdf)
    roots = _min_label_union_find(inv[:m], inv[m:], len(ids))
    id_list = ids.tolist()
    label_list = ids[roots].tolist()
    matched_set = set(matched_ids)
    comp_of = dict(zip(id_list, label_list))
    matched_comps = {comp_of[i] for i in matched_set if i in comp_of}
    drop = set(matched_set)
    for i, c in zip(id_list, label_list):
        # component contains an index-matched doc -> transitively
        # represented; otherwise drop every non-min member
        if c in matched_comps or i != c:
            drop.add(i)
    return drop


def _component_drop(
    new_df: DataFrame,
    pairs: DataFrame,
    matched: DataFrame,
    id_col: str,
    max_driver_pairs: int | None = None,
) -> DataFrame:
    """Shared drop rule for the incremental dedups: drop index-matched
    docs, every member of a batch-internal component CONTAINING an
    index-matched doc (transitively represented), and each remaining
    component's non-min members.

    The per-micro-batch job floor sets the shape: near-dup
    pair lists are batch-bounded and sparse, so by default ``pairs``
    (LIMIT-probed) and ``matched`` are COLLECTED — one action each —
    and the component collapse runs through the same min-label
    union-find as `connected_components`' small-graph path; the kept
    rows are then ONE broadcast anti-join of ``new_df`` against a
    driver-built drop-id relation. Versus the distributed shape this
    removes two eager localCheckpoint materializations (``matched``
    and the symmetrized edge list), the convergence probe, and the
    cc-join subtrees from the downstream corpus-write plan — at
    micro-batch scale ~4-5 scheduled jobs (plus their AQE sub-jobs) of
    fixed latency per batch. The drop SET is identical by construction
    (same candidate generation, same estimates, same union-find
    labels; pinned in tests/test_round13_fixes.py). A pair list past
    ``max_driver_pairs`` (default `_DROP_DRIVER_MAX_PAIRS`) falls back
    to the distributed path unchanged — the probe's CollectLimit
    short-circuits after filling, so a giant ad-hoc batch never
    materializes driver-side; pass ``0`` to force the distributed
    path."""
    lim = _DROP_DRIVER_MAX_PAIRS if max_driver_pairs is None else max_driver_pairs
    if lim > 0:
        # ONE action fetches both relations: matched ids ride the union
        # as (id, id, true) marker rows — NOT null-padded id_b, which
        # would coerce an int64 pandas column to float64 and corrupt
        # 64-bit ids past 2^53. matched is bounded by batch docs, so the
        # limit stays a pair-scale guard.
        probe = (
            matched.select(
                F.col("id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.lit(True).alias("__m"),
            )
            .unionByName(
                pairs.select("id_a", "id_b", F.lit(False).alias("__m"))
            )
            .limit(lim + 1)
            .toPandas()
        )
        if len(probe) <= lim:
            matched_ids = probe.loc[probe["__m"], "id_a"].tolist()
            pairs_pdf = probe.loc[~probe["__m"], ["id_a", "id_b"]]
            drop = _driver_drop_ids(pairs_pdf, matched_ids)
            if not drop:
                return new_df
            from pyspark.sql import types as T

            schema = T.StructType(
                [T.StructField(id_col, new_df.schema[id_col].dataType)]
            )
            drop_df = new_df.sparkSession.createDataFrame(
                [(d,) for d in sorted(drop)], schema
            )
            return new_df.join(F.broadcast(drop_df), id_col, "left_anti")
    # distributed fallback: ``matched`` is consumed twice below (the
    # component flag and the final drop union), so cut it here — the
    # callers no longer pre-checkpoint it
    matched = matched.localCheckpoint(eager=True)
    cc = connected_components(pairs, "id_a", "id_b")
    comp_matched = (
        cc.join(matched, "id", "left_semi").select("component").distinct()
    )
    drop_cc = cc.join(comp_matched, "component", "left_semi").select("id")
    drop_rep = cc.filter(F.col("id") != F.col("component")).select("id")
    drop = matched.union(drop_cc).union(drop_rep).distinct()
    return new_df.join(
        drop.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )


# ---------------------------------------------------------------------------
# embedding store (int8-quantized vectors + stored LSH buckets)
# ---------------------------------------------------------------------------


def embedding_index(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(id, bucket, scale, qvec) — the persistable embedding store:
    int8-quantized vectors (8x smaller than float64 — at corpus scale
    the difference between a memory-resident store and not) plus the
    sign-bit LSH bucket computed ONCE from the full-precision vector.

    Storing the bucket matters: recomputing it later from the quantized
    vector could flip a plane's sign where the dot is near zero —
    quantization error would silently move vectors between buckets and
    cost recall. Same (dim, planes, seed) must be used at query time."""
    from geoscan_fraud_spark.operators.dedup import hyperplane_bucket
    from geoscan_fraud_spark.operators.similarity import quantize_embeddings

    bucketed = df.withColumn(
        "__bucket", hyperplane_bucket(emb_col, dim, planes, seed)
    )
    return quantize_embeddings(
        bucketed, vec_col=emb_col, id_col=id_col, keep_cols=["__bucket"]
    ).select(
        F.col(id_col).alias("id"),
        F.col("__bucket").alias("bucket"),
        "scale",
        "qvec",
    )


def embedding_dedup_against_index(
    new_df: DataFrame,
    index: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    planes: int = 16,
    seed: int = 42,
    threshold: float = 0.95,
    max_bucket: int | None = None,
    precollapse_exact: bool = True,
    prune_index: bool | str = True,
    prune_max_keys: int = 2_000_000,
) -> DataFrame:
    """Drop new vectors whose cosine vs ANY indexed vector clears
    ``threshold`` (verified against the DEQUANTIZED stored vector —
    int8 rounding perturbs the cosine by ~the quantization step, so set
    the threshold with that slack in mind), then near-dup the batch
    against itself (`embedding_neardup_pairs`) under the same
    component-level drop rule as `dedup_against_index`. Returns the kept
    rows of ``new_df``; append their `embedding_index` rows afterwards.

    ``precollapse_exact`` (default on): value-identical vectors collapse
    to their min-id representative first — k copies share every bucket
    and would go quadratic in the self-join; copies of a representative
    are dropped either way (cosine 1 ≥ any threshold), so the result is
    unchanged."""
    from geoscan_fraud_spark.operators.dedup import (
        cosine_expr,
        embedding_neardup_pairs,
        hyperplane_bucket,
    )

    if precollapse_exact:
        rep_ids = (
            new_df.groupBy(F.col(emb_col))
            .agg(F.min(F.col(id_col)).alias(id_col))
            .select(id_col)
            .localCheckpoint(eager=True)
        )
        new_df = new_df.join(rep_ids, id_col, "left_semi")

    nb = new_df.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).alias("e"),
        hyperplane_bucket(emb_col, dim, planes, seed).alias("bucket"),
    )
    # batch-touched-bucket prune, then dequantize only survivors (the
    # minhash gate's prune applied to the same join shape):
    # the batch's distinct bucket set broadcasts, whole touched buckets
    # are kept — `_cap_buckets` decisions and the candidate join are
    # bit-identical — and the store-wide rows never reach a shuffle or
    # the dequantize projection
    ib = index.select("bucket", F.col("id").alias("oid"), "scale", "qvec")
    # public tri-state — see the minhash gate:
    # 'auto' counts the batch ids (column-pruned scan of new_df; unlike
    # the minhash gate there is no pre-checkpointed relation to count,
    # so 'auto' here may rescan the batch source once) and disables the
    # broadcast prune above prune_max_keys; one bucket key per vector
    prune = _resolve_prune(
        prune_index, lambda: new_df.select(id_col).count(), prune_max_keys
    )
    if prune:
        # presence-only semi-join build side — no distinct() (see the
        # minhash gate note); one bucket value per batch vector
        batch_buckets = nb.select("bucket")
        ib = ib.join(F.broadcast(batch_buckets), "bucket", "left_semi")
    ib = ib.select(
        "bucket",
        "oid",
        F.transform(
            F.col("qvec"), lambda q: q.cast("double") * F.col("scale")
        ).alias("oe"),
    )
    if max_bucket is not None:
        nb = _cap_buckets(nb, ["bucket"], max_bucket)
        ib = _cap_buckets(ib, ["bucket"], max_bucket)
    matched = (
        nb.join(ib, "bucket")
        .filter(cosine_expr(F.col("e"), F.col("oe")) >= threshold)
        .select("id")
        .distinct()
        # materialized inside `_component_drop` (collect or checkpoint)
    )
    pairs = embedding_neardup_pairs(
        new_df,
        emb_col=emb_col,
        id_col=id_col,
        dim=dim,
        threshold=threshold,
        planes=planes,
        seed=seed,
        max_bucket=max_bucket,
    ).select("id_a", "id_b")
    return _component_drop(new_df, pairs, matched, id_col)
