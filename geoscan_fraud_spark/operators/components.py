"""Connected components over an edge DataFrame — no GraphX, pure DataFrame.

The reference delegates this to GraphX ("relies on GraphX to detect points
having distance < epsilon and a degree > minPoints",
`01_geofraud_clustering.py:106`); the engine re-expresses it as iterative
DataFrame min-label propagation with pointer jumping:

    L'(v)  = min(L(v), min over neighbors u of L(u))     -- propagation
    L''(v) = L(L'(v))                                    -- pointer jump

The pointer-jump join doubles label reach each round, giving O(log n)
convergence even on chain-shaped components (plain propagation alone is
O(diameter)). Each round is checkpointed to cut lineage — without this
the plan grows exponentially and the driver OOMs long before 100 TB.

Checkpoint durability: `localCheckpoint` blocks live on executors and
die with them — fine locally and for short fits, but an executor loss
mid-iteration aborts a long 100 TB job. When the session has a reliable
checkpoint directory configured (`sc.setCheckpointDir(...)` —
HDFS/object store on a cluster), the rounds use reliable `checkpoint()`
instead, which survives executor failure at the cost of a write to the
checkpoint store per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the most rows a driver-side graph path fetches (`collect_small`):
#: `connected_components`' symmetrized edge list, `Geoscan.fit`'s epsilon
#: pairs plus its distinct points, and the incremental dedups' pairs plus
#: their index-matched ids. Above it the distributed path runs. Read at
#: call time, so a test can patch it to 0 to force the distributed path.
DRIVER_MAX_ROWS = 2_000_000


def _cutter(df: DataFrame):
    """Lineage cut: reliable `checkpoint()` when the session has a
    checkpoint directory, executor-memory `localCheckpoint` otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return lambda d: d.checkpoint(eager=True)
    return lambda d: d.localCheckpoint(eager=True)


def collect_small(*frames: DataFrame) -> list | None:
    """Fetch small relations to the driver in ONE action, or None.

    Each frame is tagged with its position and the frames are unioned
    by name, so they must already share one schema, padded with
    non-NULL literals (a NULL in an int64 column turns Arrow's int64
    into float64 and rounds 64-bit ids); a mismatch fails in
    `unionByName`. One ``limit(DRIVER_MAX_ROWS + 1).toPandas()`` both
    picks the path and fetches the rows: if at most `DRIVER_MAX_ROWS`
    came back, that IS everything, split back into one pandas frame per
    input; if the limit bound, the relations are big and the caller's
    distributed path takes over (None). Picking the path with a count()
    job and fetching with a second job would cost two actions, and
    CollectLimit stops after filling, so a huge input never
    materializes driver-side. The rows cross as Arrow batches into flat
    numpy columns, not per-row Python ``Row`` objects. Returns None
    without running anything when `DRIVER_MAX_ROWS` <= 0."""
    lim = DRIVER_MAX_ROWS
    if lim <= 0:
        return None
    union = frames[0].withColumn("__frame", F.lit(0))
    for i, f in enumerate(frames[1:], 1):
        union = union.unionByName(f.withColumn("__frame", F.lit(i)))
    pdf = union.limit(lim + 1).toPandas()
    if len(pdf) > lim:
        return None
    tag = pdf.pop("__frame").to_numpy()
    return [pdf[tag == i].reset_index(drop=True) for i in range(len(frames))]


def _min_label_union_find(ui, vi, n: int):
    """Union-find with path halving and union-by-MIN-root over
    pre-factorized edge endpoints: ``ui``/``vi`` are integer index
    arrays into a SORTED id table of ``n`` vertices (so the min root
    index is also the min vertex id). Returns the fully-flattened root
    index per vertex. `min_labels` runs it over an edge list's ids, and
    `Geoscan.fit`'s driver path over its core points (isolated ones
    included)."""
    import numpy as np

    parent = np.arange(n, dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(ui.tolist(), vi.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root so the label is the component min
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    # final flatten: one vectorized pass after unions settle
    roots = parent.copy()
    while True:
        nxt = parent[roots]
        if (nxt == roots).all():
            break
        roots = nxt
    return roots


def min_labels(u, v):
    """Components of the edge list ``u``-``v`` (numpy id arrays) ->
    (ids, labels): every vertex id once, sorted, and the minimum id of
    its component, the labels `connected_components` returns."""
    import numpy as np

    # np.unique sorts, so index order == id order: the min root INDEX of
    # a component is also its min vertex ID
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    m = len(u)
    return ids, ids[_min_label_union_find(inv[:m], inv[m:], len(ids))]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(src, dst) long-id edges -> (id, component) where component is the
    minimum vertex id in the connected component.

    Small graphs skip the iteration: when the symmetrized edge list
    fits `collect_small`, `min_labels` computes the identical labels on
    the driver in 2 jobs (checkpoint + fetch) instead of ~4 per
    iteration. Near-dup graphs are sparse even at 100 TB, so that is
    the normal case. The iterative min-label + pointer-jumping path
    runs for larger edge lists (`DRIVER_MAX_ROWS` = 0 forces it)."""
    cut = _cutter(edges)
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # no distinct: duplicate edges are absorbed by the min-aggregates each
    # round, and a full-dedup shuffle of a 10^8-edge list costs more than
    # the duplicates ever will
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = cut(sym)

    small = collect_small(sym)
    if small is not None:
        import pandas as pd  # local: keep module import-light

        (pdf,) = small
        ids, labels = min_labels(pdf["u"].to_numpy(), pdf["v"].to_numpy())
        id_type = edges.schema[src].dataType
        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("component", id_type)]
        )
        return edges.sparkSession.createDataFrame(
            pd.DataFrame({"id": ids, "component": labels}), schema
        )

    labels = cut(
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )

    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.u == labels.id)
            .groupBy("v")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, labels.id == nbr_min.v, "left_outer")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("old_label"),
            )
        )
        # pointer jump: follow one more hop through the label table; carry
        # the pre-iteration label so convergence is a filter over the
        # checkpointed result — not another join + shuffle
        lab2 = stepped.select(
            F.col("id").alias("jid"), F.col("label").alias("jlabel")
        )
        jumped = cut(
            stepped.join(lab2, stepped.label == lab2.jid, "left_outer")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
                ).alias("label"),
                F.col("old_label"),
            )
        )
        changed = jumped.filter(F.col("label") != F.col("old_label")).count()
        labels = jumped.select("id", "label")
        if changed == 0:
            break

    return labels.select("id", F.col("label").alias("component"))
