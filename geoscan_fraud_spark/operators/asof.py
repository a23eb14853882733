"""As-of (point-in-time) join — attach to each left row the single most
recent right row per key, an operator the DataFrame API lacks natively
(SURVEY §2.10 family; the reference's TTL'd "current behavior" lookups,
`02_geofraud_fraud.py:281-287`, are the degenerate whole-window case).

100 TB shape: the naive formulation — range join + per-left-row top-1 —
explodes into a near-cross-product per key before pruning. The
union-window form here never builds that product: tag both sides, union,
and run `last(value, ignorenulls=True)` over one (key, time)-sorted
window. ONE shuffle keyed by the join keys, output linear in
|left| + |right|, and both window functions share the single sort. This
is the standard scalable as-of plan (what dedicated time-series engines
compile to).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Internal column names the join plans reserve for themselves.
_ASOF_RESERVED = ("__src", "__rpack")
_INTERVAL_RESERVED = ("__pid", "__iid", "__bucket", "__w")


def _orderable(dt: T.DataType) -> bool:
    """Whether Spark can ORDER BY a column of this type (maps cannot;
    arrays/structs are orderable iff their element/field types are)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    direction: str = "backward",
    suffix: str = "_r",
    tolerance=None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right.ts <= left.ts`` (``direction='backward'``; ties inclusive) or
    the smallest ``right.ts >= left.ts`` (``'forward'``) sharing ``on``.
    Left rows with no match keep NULLs (left-outer semantics, like
    ``pandas.merge_asof``).

    Right's non-key, non-ts columns are attached with ``suffix``; the
    matched right timestamp arrives as ``ts<suffix>``.

    ``tolerance`` (optional) bounds the match distance like
    ``pandas.merge_asof(tolerance=...)``: a matched right row farther
    than ``tolerance`` from the left timestamp is nulled back out
    (units follow the column type — numeric delta for numeric ts, a
    `Column` interval/duration expression or numeric seconds-delta
    semantics are the caller's to align). Applied as a map-only
    post-filter on the packed struct, so the plan shape (one shuffle)
    is unchanged.

    Determinism: right rows tied on (key, ts) resolve to the greatest
    tuple of their ORDERABLE value columns (pandas' "last occurrence" is
    input-order-dependent, which a distributed engine cannot reproduce).
    If the tied rows differ only in non-orderable columns (maps), the
    pick is partition-order-dependent — give such data a real tiebreaker
    column. Input column names may not collide with the reserved
    internals (``__src``/``__rpack``) or with the suffixed output names;
    both raise rather than silently shadowing.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    keys = list(on)
    rvals = [c for c in right.columns if c not in keys and c != ts_col]
    lvals = [c for c in left.columns if c not in keys and c != ts_col]

    clash = [c for c in _ASOF_RESERVED if c in left.columns or c in right.columns]
    if clash:
        raise ValueError(f"column names {clash} are reserved by asof_join")
    out_left = set(keys) | {ts_col} | set(lvals)
    clash = sorted(
        {f"{c}{suffix}" for c in rvals + [ts_col]} & out_left
    )
    if clash:
        raise ValueError(
            f"suffixed right columns {clash} collide with left output columns; "
            f"rename or pass a different suffix"
        )

    # The matched right row travels as ONE struct so its fields can never
    # tear: filling each right column with its own last(ignorenulls=True)
    # would substitute an OLDER row's value wherever the matched row holds
    # a legitimate NULL.
    pack_type = T.StructType(
        [T.StructField("__ts", right.schema[ts_col].dataType)]
        + [T.StructField(c, right.schema[c].dataType) for c in rvals]
    )
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(ts_col),
        F.lit(0).alias("__src"),
        F.struct(
            F.col(ts_col).alias("__ts"), *[F.col(c) for c in rvals]
        ).alias("__rpack"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in lvals],
    )
    l = left.select(
        *[F.col(k) for k in keys],
        F.col(ts_col),
        F.lit(1).alias("__src"),
        F.lit(None).cast(pack_type).alias("__rpack"),
        *[F.col(c).alias(f"__l_{c}") for c in lvals],
    )
    both = r.unionByName(l)

    # Total order: (ts, side, orderable right value fields). Right rows
    # sort before left at equal ts (ties inclusive); right rows tied on
    # (key, ts) resolve by their orderable value fields — getField, not
    # whole-struct ordering, so a MapType value column doesn't fail
    # analysis when no tiebreak is even needed.
    ts_order = F.col(ts_col).asc() if direction == "backward" else F.col(ts_col).desc()
    tiebreak = [
        F.col("__rpack").getField(c).asc()
        for c in rvals
        if _orderable(right.schema[c].dataType)
    ]
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, F.col("__src").asc(), *tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    filled = both.select(
        *keys,
        ts_col,
        "__src",
        F.last("__rpack", ignorenulls=True).over(w).alias("__rpack"),
        *[F.col(f"__l_{c}") for c in lvals],
    )
    out = filled.filter(F.col("__src") == 1)
    if tolerance is not None:
        tol = tolerance if isinstance(tolerance, Column) else F.lit(tolerance)
        rts = F.col("__rpack").getField("__ts")
        # sign is known per direction, so no abs() (which intervals lack)
        delta = (
            F.col(ts_col) - rts if direction == "backward" else rts - F.col(ts_col)
        )
        out = out.withColumn(
            "__rpack", F.when(delta <= tol, F.col("__rpack"))
        )
    return out.select(
        *keys,
        ts_col,
        *[F.col(f"__l_{c}").alias(c) for c in lvals],
        *[
            F.col("__rpack").getField(c).alias(f"{c}{suffix}")
            for c in rvals
        ],
        F.col("__rpack").getField("__ts").alias(f"{ts_col}{suffix}"),
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str = "start",
    end_col: str = "end",
    on: list[str] | None = None,
    bucket_width: float | None = None,
    how: str = "inner",
) -> DataFrame:
    """Match each point row to every interval row with
    ``start <= point < end`` (optionally also matching ``on`` keys) —
    the range join Spark's planner would otherwise execute as a
    broadcast-nested-loop / cartesian product.

    Bucket-then-verify (the geo engine's cell join, J4, on a number
    line): intervals explode to the fixed-width buckets they cover,
    points map to their single bucket, the match is a plain equi-join on
    (keys, bucket) followed by the exact range filter. Because each point
    has exactly ONE bucket and an interval's exploded buckets are
    distinct, every (point row, interval row) pair joins at most once —
    multiset semantics with NO pair-dedup shuffle; value-identical input
    rows each produce their own match. Pick ``bucket_width`` near the
    median interval length: output work is then O(matches), not
    O(|points| x |intervals|). Long intervals only widen their own
    explode (len/width buckets); short ones cost one row.

    ``how='left'`` keeps unmatched points with NULL interval columns.
    The unmatched-point accounting is by a per-row id assigned with
    `monotonically_increasing_id`; the tagged point set and the matched
    set are localCheckpoint-ed so the id assignment cannot differ between
    the union branch and the anti-join branch (re-evaluation after a
    shuffle, AQE re-plan, or task retry would otherwise re-assign ids
    and silently drop or duplicate points). That makes ``how='left'`` an
    eager two-materialization path — ``'inner'`` stays fully lazy.

    Leaving ``bucket_width`` unset derives the width LAZILY: the
    median interval length is computed as a broadcast one-row scalar
    crossed into both sides, so the plan builds without running a job
    and the median evaluates with the first action (it still costs one
    pass over ``intervals`` at execution — an explicit width skips even
    that and folds as a literal). Points and intervals must not share
    non-key column names (the join output would be ambiguous); reserved
    internals (``__pid``/``__iid``/``__bucket``/``__w``) are rejected
    likewise.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    keys = list(on or [])
    clash = [
        c
        for c in _INTERVAL_RESERVED
        if c in points.columns or c in intervals.columns
    ]
    if clash:
        raise ValueError(f"column names {clash} are reserved by interval_join")
    shared = sorted(
        (set(points.columns) & set(intervals.columns)) - set(keys)
    )
    if shared:
        raise ValueError(
            f"points and intervals share non-key columns {shared}; "
            f"rename one side (asof_join-style suffixing is the caller's choice)"
        )
    if bucket_width is None:
        med = intervals.agg(
            F.percentile_approx(
                F.col(end_col) - F.col(start_col), F.lit(0.5)
            ).alias("__m")
        ).select(
            F.coalesce(
                F.when(F.col("__m") > 0, F.col("__m").cast("double")),
                F.lit(1.0),
            ).alias("__w")
        )
        bmed = F.broadcast(med)
        points = points.crossJoin(bmed)
        intervals = intervals.crossJoin(bmed)
        w = F.col("__w")
    else:
        w = F.lit(float(bucket_width))

    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / w).cast("long"),
                F.floor(F.col(end_col) / w).cast("long"),
            )
        ),
    ).drop("__w")
    if how == "inner":
        pt = points.withColumn(
            "__bucket", F.floor(F.col(point_col) / w).cast("long")
        ).drop("__w")
        return (
            pt.join(iv, keys + ["__bucket"], "inner")
            .filter(
                (F.col(start_col) <= F.col(point_col))
                & (F.col(point_col) < F.col(end_col))
            )
            .drop("__bucket")
        )
    # left: id-based accounting of unmatched points, behind lineage cuts
    # so the ids are assigned exactly once (see docstring)
    pt = (
        points.withColumn("__pid", F.monotonically_increasing_id())
        .withColumn("__bucket", F.floor(F.col(point_col) / w).cast("long"))
        .drop("__w")
        .localCheckpoint(eager=True)
    )
    matched = (
        pt.join(iv, keys + ["__bucket"], "inner")
        .filter(
            (F.col(start_col) <= F.col(point_col))
            & (F.col(point_col) < F.col(end_col))
        )
        .drop("__bucket")
        .localCheckpoint(eager=True)
    )
    missing = pt.join(matched.select("__pid"), "__pid", "left_anti")
    for c in intervals.columns:
        if c not in pt.columns:
            missing = missing.withColumn(
                c, F.lit(None).cast(intervals.schema[c].dataType)
            )
    return matched.unionByName(missing.select(matched.columns)).drop("__pid")
