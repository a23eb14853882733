"""Round-13 fixes (second optimization round).

VERDICT r12 #1/#5: `_component_drop` resolves batch-bounded pair lists
driver-side through the SAME min-label union-find as
`connected_components`' small-graph path — these tests pin that the
driver path's kept set is identical to the distributed path's, with
and without index matches, components, and the star guard.

VERDICT r12 #7: `_fan_out_small` caps its target partition count by the
size estimate so a tiny relation on a huge cluster cannot shatter into
thousands of near-empty partitions.

VERDICT r12 #3 / ADVICE r12 #1: `text_index_write` derives its global
counters from the written postings read-back plus one column-pruned
corpus aggregate instead of persisting the corpus-scale postings
relation for the whole build (build ≡ append counter equality stays
pinned by test_round12_fixes).

VERDICT r12 #4: the corpus sink's ``batch_id=N`` output gets a
size-gated REBALANCE before the write (off below the byte gate, so
micro-batches never pay a text shuffle for layout).

ADVICE r12 #2: the streaming sinks restore the PRIOR job description
instead of wiping it to None.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_round11_fixes import _gate_fixture, _rows


# ---------------------------------------------------------------------------
# driver-side component drop ≡ distributed component drop
# ---------------------------------------------------------------------------


def test_driver_drop_matches_distributed_minhash_gate(spark):
    """The default (driver union-find) kept set is bit-identical to the
    forced-distributed one — cross-batch matches, batch-internal
    components, fresh rows."""
    from geoscan_fraud_spark.operators import incremental as inc

    batch, idx = _gate_fixture(spark)
    kw = dict(num_hashes=48, bands=12, threshold=0.5)
    default = _rows(inc.dedup_against_index(batch, idx, **kw), "doc_id")
    forced = inc._DROP_DRIVER_MAX_PAIRS
    try:
        inc._DROP_DRIVER_MAX_PAIRS = 0  # distributed fallback
        dist = _rows(inc.dedup_against_index(batch, idx, **kw), "doc_id")
    finally:
        inc._DROP_DRIVER_MAX_PAIRS = forced
    assert default == dist and len(default) > 0


def test_driver_drop_matches_distributed_star_guard(spark):
    """Same equality under the planted hot family + star guard (hub
    edges are candidates like any other)."""
    from geoscan_fraud_spark.operators import incremental as inc

    batch, idx = _gate_fixture(spark, planted_hot=True)
    kw = dict(num_hashes=48, bands=12, threshold=0.5, max_bucket=8)
    default = _rows(inc.dedup_against_index(batch, idx, **kw), "doc_id")
    forced = inc._DROP_DRIVER_MAX_PAIRS
    try:
        inc._DROP_DRIVER_MAX_PAIRS = 0
        dist = _rows(inc.dedup_against_index(batch, idx, **kw), "doc_id")
    finally:
        inc._DROP_DRIVER_MAX_PAIRS = forced
    assert default == dist


def test_driver_drop_ids_rule():
    """The pure drop rule: matched ids drop, their whole component
    drops, non-min members of unmatched components drop, min member of
    an unmatched component survives."""
    import pandas as pd

    from geoscan_fraud_spark.operators.incremental import _driver_drop_ids

    pairs = pd.DataFrame(
        {"id_a": [1, 2, 10, 20], "id_b": [2, 3, 11, 21]}
    )  # components {1,2,3}, {10,11}, {20,21}
    drop = _driver_drop_ids(pairs, matched_ids=[10, 99])
    # 99: matched, no pairs -> drops alone. {10,11}: matched component,
    # all drop. {1,2,3}: keep min 1, drop 2,3. {20,21}: keep 20, drop 21.
    assert drop == {99, 10, 11, 2, 3, 21}


def test_driver_drop_limit_probe_falls_back(spark):
    """A pair list past the gate takes the distributed path and still
    returns the identical kept set."""
    from geoscan_fraud_spark.operators import incremental as inc

    batch, idx = _gate_fixture(spark)
    kw = dict(num_hashes=48, bands=12, threshold=0.5)
    default = _rows(inc.dedup_against_index(batch, idx, **kw), "doc_id")
    forced = inc._DROP_DRIVER_MAX_PAIRS
    try:
        inc._DROP_DRIVER_MAX_PAIRS = 1  # any real pair list exceeds this
        tiny = _rows(inc.dedup_against_index(batch, idx, **kw), "doc_id")
    finally:
        inc._DROP_DRIVER_MAX_PAIRS = forced
    assert default == tiny


# ---------------------------------------------------------------------------
# _fan_out_small: size-capped target + unknown-estimate (RDD-backed) inputs
# ---------------------------------------------------------------------------


def test_fan_out_target_formula():
    from geoscan_fraud_spark.operators.dedup import _fan_out_target

    # local[32]: small estimates keep the full 32-way fan-out (the r12
    # measured behavior, bit-identical)
    assert _fan_out_target(32, 250_000) == 32
    # 10k-core cluster: a 250 KB relation fans to 32, not 10 000
    assert _fan_out_target(10_000, 250_000) == 32
    # ... and a 50 MB one to ~50 partitions, never past p
    assert _fan_out_target(10_000, 50 * 1024 * 1024) == 50
    assert _fan_out_target(8, 50 * 1024 * 1024) == 8


def test_fan_out_small_fires_on_rdd_backed_plan(spark):
    """foreachBatch hands sinks LogicalRDD batches whose size estimate
    is the sentinel; the fan-out must unstarve them by partition count
    (r13 — previously the streaming sinks' signature pass ran at source
    granularity)."""
    from geoscan_fraud_spark.operators.dedup import _fan_out_small

    base = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
    )
    rdd_df = spark.createDataFrame(base.rdd.coalesce(1), base.schema)
    est = int(
        str(rdd_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    assert est >= (1 << 60)  # the sentinel, not a measurement
    out = _fan_out_small(rdd_df)
    assert out.rdd.getNumPartitions() > 1
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(100))


# ---------------------------------------------------------------------------
# corpus sink: size-gated output clustering + job-description restore
# ---------------------------------------------------------------------------


def test_cluster_output_gate_and_forced(spark):
    from geoscan_fraud_spark.streaming import scoring as sc_mod

    df = spark.range(100).selectExpr("id", "repeat('x', 10) as text")
    # auto + small estimate: untouched plan (no rebalance hint)
    assert sc_mod._maybe_cluster_output(df, "auto") is df
    # False: untouched even when forced large
    assert sc_mod._maybe_cluster_output(df, False) is df
    # True: the hint is applied (plan differs)
    assert sc_mod._maybe_cluster_output(df, True) is not df
    with pytest.raises(ValueError):
        sc_mod._maybe_cluster_output(df, "sometimes")


def test_cluster_output_true_collapses_file_count(spark, tmp_path):
    """cluster_output=True lands a handful of advisory-sized files per
    batch instead of task-count small ones (VERDICT r12 #4)."""
    import os

    from geoscan_fraud_spark.streaming.scoring import neardup_ingest_sink

    batch = spark.createDataFrame(
        [(i, f"wholly unique document number {i} " + " ".join(f"w{i}_{j}" for j in range(30)))
         for i in range(400)],
        "doc_id long, text string",
    ).repartition(8)

    def n_files(p):
        return sum(
            1
            for root, _d, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    plain = neardup_ingest_sink(
        str(tmp_path / "idx_a"), str(tmp_path / "out_a"), cluster_output=False
    )
    plain(batch, 0)
    clustered = neardup_ingest_sink(
        str(tmp_path / "idx_b"), str(tmp_path / "out_b"), cluster_output=True
    )
    clustered(batch, 0)
    rows_a = spark.read.parquet(str(tmp_path / "out_a" / "batch_id=0")).count()
    rows_b = spark.read.parquet(str(tmp_path / "out_b" / "batch_id=0")).count()
    assert rows_a == rows_b == 400
    assert n_files(str(tmp_path / "out_b" / "batch_id=0")) < n_files(
        str(tmp_path / "out_a" / "batch_id=0")
    )


def test_sink_restores_prior_job_description(spark, tmp_path):
    """ADVICE r12 #2: after the sink body, the PRIOR description is back
    (not None), so later same-batch jobs keep their attribution."""
    from geoscan_fraud_spark.streaming.scoring import neardup_ingest_sink

    sc = spark.sparkContext
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    sink = neardup_ingest_sink(str(tmp_path / "idx"), str(tmp_path / "out"))
    prev = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription("outer-engine-label")
        sink(batch, 0)
        assert (
            sc.getLocalProperty("spark.job.description")
            == "outer-engine-label"
        )
    finally:
        sc.setJobDescription(prev)


# ---------------------------------------------------------------------------
# r13 driver-overhead fix: JVM-parsed expression builders are
# bit-identical to the Column-operator forms they replaced
# (guide §5 — ~0.7-1.2 s of py4j construction per invocation removed
# from minhash/simhash/hyperplane plans; values must not move)
# ---------------------------------------------------------------------------


def _expr_docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight nine ten"),
        (4, ""),
        (5, "solo"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dlit_double_literal_exact_roundtrip(spark):
    """`_dlit` literals parse to the exact IEEE double of F.lit(float) —
    incl. exponent forms and subnormals (the hyperplane/PQ literal
    arrays are built from these)."""
    from geoscan_fraud_spark.functions.sqltext import _dlit

    vals = [3e-05, -8.26e-05, 0.8444218515250481, -2.2135949537926754,
            1e-320, 123456789.123456789, 0.0]
    row = (
        spark.range(1)
        .select(*[F.expr(_dlit(v)).alias(f"c{i}") for i, v in enumerate(vals)])
        .collect()[0]
    )
    assert all(row[i] == v for i, v in enumerate(vals))


def test_minhash_expr_aggs_bit_parity_with_column_form(spark):
    """The F.expr-built md5 mix aggregates equal the r12 Column-operator
    form component-by-component (same literal typing, associativity and
    modulo), for both hash families."""
    from geoscan_fraud_spark.operators import dedup as dd

    docs = _expr_docs(spark)
    for sig_hash in ("md5", "xxhash64"):
        new = dd.minhash_signature_table(
            docs, num_hashes=8, sig_hash=sig_hash
        )
        # reference: the pre-r13 Column-operator aggregates
        sh = docs.select(
            F.col("doc_id").alias("id"),
            F.explode(dd.word_shingles(F.col("text"), 3)).alias("shingle"),
        )
        if sig_hash == "xxhash64":
            sh = sh.select("id", F.xxhash64("shingle").alias("h"))
            aggs = [
                F.min(F.xxhash64("h", F.lit(i))).alias(f"mh_{i}")
                for i in range(8)
            ]
        else:
            sh = sh.select(
                "id",
                F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
                .cast("long")
                .alias("h"),
            )
            a_mul, b_mul, c_xor = dd.minhash_mix_params(8)

            def mh(i):
                hx = F.col("h").bitwiseXOR(F.lit(c_xor[i]))
                hlo = hx.bitwiseAND(F.lit((1 << 30) - 1))
                hhi = F.shiftright(hx, 30)
                return (
                    F.lit(a_mul[i]) * hlo + F.lit(b_mul[i]) * hhi + F.lit(i)
                ) % F.lit(dd.MINHASH_MOD)

            aggs = [F.min(mh(i)).alias(f"mh_{i}") for i in range(8)]
        ref = sh.groupBy("id").agg(*aggs)
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, ref.collect())
        ), sig_hash


def test_simhash_expr_pack_bit_parity_with_column_form(spark):
    """The F.expr-built lane aggregates + per-bit unpack equal the r12
    Column-operator simhash_table for both hash families."""
    from geoscan_fraud_spark.operators import dedup as dd

    docs = _expr_docs(spark)
    for sig_hash in ("xxhash64", "md5"):
        nbits = dd.simhash_bits(sig_hash)
        stride = (nbits + 2) // 3
        tok = docs.select(
            F.col("doc_id").alias("id"),
            F.explode(F.split(F.col("text"), r"\s+")).alias("t"),
        )
        if sig_hash == "xxhash64":
            tok = tok.select("id", F.xxhash64("t").alias("h"))
        else:
            tok = tok.select(
                "id",
                F.conv(F.substring(F.md5("t"), 1, 15), 16, 10)
                .cast("long")
                .alias("h"),
            )
        lane_aggs = []
        for k in range(stride):
            lanes = None
            for j in range(3):
                b = k + stride * j
                if b >= nbits:
                    continue
                bit = F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))
                lane = F.shiftleft(bit, 21 * j)
                lanes = lane if lanes is None else lanes.bitwiseOR(lane)
            lane_aggs.append(F.sum(lanes).alias(f"p_{k}"))
        sums = tok.groupBy("id").agg(
            *lane_aggs, F.count(F.lit(1)).alias("n_tok")
        )
        packed = F.lit(0).cast("long")
        for b in range(nbits):
            k, j = b % stride, b // stride
            c = F.shiftright(F.col(f"p_{k}"), 21 * j).bitwiseAND(
                F.lit(0x1FFFFF)
            )
            packed = packed.bitwiseOR(
                F.when(
                    c * 2 >= F.col("n_tok"),
                    F.shiftleft(F.lit(1).cast("long"), b),
                ).otherwise(F.lit(0).cast("long"))
            )
        ref = sums.select("id", packed.alias("sh"))
        new = dd.simhash_table(docs, sig_hash=sig_hash)
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, ref.collect())
        ), sig_hash


def test_hyperplane_bucket_name_equals_column_form(spark):
    """hyperplane_bucket(name) — one JVM-parsed expr — equals a pure-Python
    left-to-right fold of each `_hyperplanes(64, 16, 42)` dot product (the
    SQL fold's order, so the signs are bit-identical) on real vectors
    including negatives and zeros, and on a column name with an embedded
    backtick. The string builders' double literals equal `F.lit` for the
    non-finite values too."""
    from geoscan_fraud_spark.functions.sqltext import _dlit
    from geoscan_fraud_spark.operators import dedup as dd

    rows = [
        (1, [0.5, -1.25, 2.0, 0.0] * 16),
        (2, [-3.0, 1e-9, -1e-9, 7.5] * 16),
        (3, [0.0] * 64),
    ]

    def folded_bucket(vec):
        key = 0
        for p, plane in enumerate(dd._hyperplanes(64, 16, 42)):
            s = 0.0
            for x, y in zip(vec, plane):
                s = s + x * y
            key += (1 if s >= 0 else 0) * 2**p
        return key

    want = sorted((i, folded_bucket(v)) for i, v in rows)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for name in ("embedding", "emb`x"):
        d = df.withColumnRenamed("embedding", name)
        by_name = d.select(
            "vec_id", dd.hyperplane_bucket(name, 64, 16, 42).alias("b")
        )
        assert sorted(map(tuple, by_name.collect())) == want, name

    values = [float("nan"), float("inf"), float("-inf"), -0.0, 5e-324]
    by_str = df.limit(1).select(*[F.expr(_dlit(v)) for v in values]).first()
    by_lit = df.limit(1).select(*[F.lit(v) for v in values]).first()
    assert [repr(v) for v in by_str] == [repr(v) for v in by_lit] == [
        repr(v) for v in values
    ]
