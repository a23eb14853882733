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

#: the most rows a driver-side graph path fetches with its LIMIT probe:
#: `connected_components`' symmetrized edge list, and `Geoscan.fit`'s
#: epsilon pairs plus its distinct points. Above it the distributed path
#: runs. Read at call time, so a test can patch it to 0 to force the
#: distributed path.
DRIVER_MAX_ROWS = 2_000_000


def _cutter(df: DataFrame):
    """Lineage cut: reliable `checkpoint()` when the session has a
    checkpoint directory, executor-memory `localCheckpoint` otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return lambda d: d.checkpoint(eager=True)
    return lambda d: d.localCheckpoint(eager=True)


def _min_label_union_find(ui, vi, n: int):
    """Union-find with path halving and union-by-MIN-root over
    pre-factorized edge endpoints: ``ui``/``vi`` are integer index
    arrays into a SORTED id table of ``n`` vertices (so the min root
    index is also the min vertex id). Returns the fully-flattened root
    index per vertex. Shared by `connected_components`' small-graph
    path and the incremental gates' driver-side drop rule
    (`operators/incremental._component_drop`) so both compute identical
    min-label components by construction."""
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


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(src, dst) long-id edges -> (id, component) where component is the
    minimum vertex id in the connected component.

    Adaptive physical strategy (the AQE philosophy applied where Spark
    can't): near-dup graphs are SPARSE — a 100 TB corpus with 0.1%
    duplicates yields a tiny edge list — and each distributed iteration
    costs 2 joins + a checkpoint + a convergence count in fixed job
    latency. When the symmetrized edge list has at most
    `DRIVER_MAX_ROWS` rows, the labels are computed with a
    driver-side union-find instead: identical min-label result, 2 jobs
    total (checkpoint + LIMIT-probe collect; the path pick rides on
    the collect instead of its own count() job) instead of ~4 per
    iteration. The pairs cross the wire as Arrow
    batches into a 2-column pandas frame (two int64 numpy arrays — 16
    bytes/edge, ~32 MB at the 2M-symmetrized default, NOT per-row
    Python ``Row`` objects at ~100+ bytes each), and the union-find
    runs over contiguous numpy index arrays. The iterative min-label +
    pointer-jumping path remains for genuinely large edge lists
    (`DRIVER_MAX_ROWS` = 0 forces it)."""
    cut = _cutter(edges)
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # no distinct: duplicate edges are absorbed by the min-aggregates each
    # round, and a full-dedup shuffle of a 10^8-edge list costs more than
    # the duplicates ever will
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = cut(sym)

    lim = DRIVER_MAX_ROWS
    if lim > 0:
        # per-call job floor: picking the path with a count() job and
        # fetching the edges with a second toPandas job costs two
        # actions. A LIMIT-probe collect does both in ONE action over
        # the just-checkpointed blocks: fetch at most lim+1 rows
        # — if everything came back, that IS the edge list (rows ≤ limit
        # means limit was not binding); if the limit bound, the list is
        # big and the distributed path takes over (CollectLimit
        # short-circuits after filling, so the probe never materializes
        # a huge frame driver-side).
        pdf = sym.limit(lim + 1).toPandas()
        if len(pdf) <= lim:
            import numpy as np  # local: keep module import-light

            # Arrow transfer: two flat int64 columns, no Row objects
            uv = np.concatenate(
                [pdf["u"].to_numpy(), pdf["v"].to_numpy()]
            )
            # np.unique sorts, so index order == id order: the min root
            # INDEX of a component is also its min vertex ID
            ids, inv = np.unique(uv, return_inverse=True)
            m = len(pdf)
            roots = _min_label_union_find(inv[:m], inv[m:], len(ids))
            import pandas as pd  # noqa: local with numpy above

            out_pdf = pd.DataFrame({"id": ids, "component": ids[roots]})
            id_type = edges.schema[src].dataType
            schema = T.StructType(
                [T.StructField("id", id_type), T.StructField("component", id_type)]
            )
            return edges.sparkSession.createDataFrame(out_pdf, schema)

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
