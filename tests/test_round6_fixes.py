"""Round-6 regression tests.

VERDICT r05 #1: the LSH band/chunk self-joins had no hot-bucket guard — a
duplicate-heavy corpus (the normal case at 100 TB) puts k near-identical
docs into one bucket and the self-join emits k^2/2 candidate pairs before
any filter. Two composable guards are pinned here:

* `minhash_dedup(precollapse_exact=True)` (the new default) collapses
  value-identical texts to their min-id representative before the LSH
  self-join — provably result-preserving;
* `max_bucket=` on `minhash_candidate_pairs` / `simhash_pairs` /
  `embedding_neardup_pairs` drops oversized buckets (documented recall
  tradeoff) for distinct-but-near-identical floods.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators import dedup as dd


def _doc_rows(n_distinct: int = 24, words_per_doc: int = 40, seed: int = 7):
    rnd = random.Random(seed)
    vocab = [f"w{i}" for i in range(300)]
    return [
        (i, " ".join(rnd.choice(vocab) for _ in range(words_per_doc)))
        for i in range(n_distinct)
    ]


def _corpus_with_flood(spark, n_copies: int = 300):
    """Distinct docs + near-dup mutations + one doc duplicated n_copies x.

    Near-dups: for each of the first 8 docs, a copy with one word dropped
    (shingle Jaccard well above 0.5) under id+1000. The flood: n_copies
    exact copies of doc 0 under ids >= 10000.
    """
    rows = _doc_rows()
    neardup = [
        (i + 1000, " ".join(t.split()[:-3]))
        for i, t in rows[:8]
    ]
    flood = [(10000 + j, rows[0][1]) for j in range(n_copies)]
    return spark.createDataFrame(rows + neardup + flood, ["doc_id", "text"])


def test_minhash_precollapse_is_result_preserving(spark):
    docs = _corpus_with_flood(spark, n_copies=60)
    kwargs = dict(threshold=0.5, n=3, num_hashes=48, bands=12)
    kept_pre = {
        r.doc_id
        for r in dd.minhash_dedup(docs, precollapse_exact=True, **kwargs)
        .select("doc_id").collect()
    }
    kept_raw = {
        r.doc_id
        for r in dd.minhash_dedup(docs, precollapse_exact=False, **kwargs)
        .select("doc_id").collect()
    }
    assert kept_pre == kept_raw
    # every flood copy collapsed onto doc 0; near-dup mutations collapsed
    # onto their source doc
    assert all(i >= 10000 for i in set(range(10000, 10060)) - kept_pre)
    assert not any(i >= 10000 for i in kept_pre)
    assert not any(1000 <= i < 2000 for i in kept_pre)
    assert 0 in kept_pre


def test_minhash_precollapse_null_and_empty_text_equivalence(spark):
    """NULL and empty texts both shingle to [''] in the raw pipeline
    (concat_ws folds a null word array to ''), so they merge with each
    other there; the pre-collapse path must land on the same kept set."""
    rows = _doc_rows(6)
    df = spark.createDataFrame(
        [(i, t) for i, t in rows] + [(900, None), (901, None), (902, "")],
        "doc_id long, text string",
    )
    kwargs = dict(threshold=0.5, num_hashes=48, bands=12)
    kept_pre = {
        r.doc_id
        for r in dd.minhash_dedup(df, precollapse_exact=True, **kwargs)
        .select("doc_id").collect()
    }
    kept_raw = {
        r.doc_id
        for r in dd.minhash_dedup(df, precollapse_exact=False, **kwargs)
        .select("doc_id").collect()
    }
    assert kept_pre == kept_raw
    # the degenerate docs collapse to the min id among {900, 901, 902}
    assert kept_pre & {900, 901, 902} == {900}


def test_max_bucket_caps_candidate_pairs_on_flood(spark):
    """With a 300x-duplicated doc, uncapped candidates are O(copies^2);
    max_bucket drops the flood buckets and the count falls to
    O(distinct^2) while low-multiplicity near-dup pairs survive."""
    docs = _corpus_with_flood(spark, n_copies=300)
    kwargs = dict(threshold=None, n=3, num_hashes=48, bands=12)
    kwargs.pop("threshold")
    uncapped = dd.minhash_candidate_pairs(docs, **kwargs).count()
    assert uncapped > 300 * 299 / 2  # the quadratic flood dominates

    capped_df = dd.minhash_candidate_pairs(docs, max_bucket=10, **kwargs)
    capped_pairs = {(r.id_a, r.id_b) for r in capped_df.collect()}
    n_distinct = 24 + 8  # originals + near-dup mutations
    assert len(capped_pairs) <= n_distinct * (n_distinct - 1) / 2
    # recall: every near-dup (i, i+1000) pair among LOW-multiplicity docs
    # still surfaces — their buckets hold ~2 docs and are untouched by
    # the cap. Doc 0 is the flooded doc: ITS near-dup pair lives only in
    # hot buckets and is the documented recall cost of the cap (the
    # pre-collapse guard, not the cap, is the right tool for exact
    # floods — pinned by test_minhash_precollapse_is_result_preserving).
    for i in range(1, 8):
        assert (i, i + 1000) in capped_pairs


def test_simhash_max_bucket_guard(spark):
    docs = _corpus_with_flood(spark, n_copies=200)
    uncapped = dd.simhash_pairs(docs, max_hamming=3).count()
    assert uncapped > 200 * 199 / 2
    capped = dd.simhash_pairs(docs, max_hamming=3, max_bucket=10)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    n_distinct = 24 + 8
    assert len(pairs) <= n_distinct * (n_distinct - 1) / 2
    # one-word-shorter mutations are within hamming 3 of their source for
    # at least some docs; assert the capped run keeps every pair the
    # uncapped run found among low-multiplicity ids
    low = {
        (r.id_a, r.id_b)
        for r in dd.simhash_pairs(docs.filter("doc_id < 10000"), max_hamming=3).collect()
    }
    assert low <= pairs | {(a, b) for (a, b) in low if a == 0 or b == 0}


def test_connected_components_checkpoint_modes(spark, tmp_path):
    """Reliable checkpoints survive executor loss at 100 TB: with a
    checkpoint dir set, the iterative rounds write to it; without one they
    use localCheckpoint. Both converge identically on a chain graph (the
    worst case pointer jumping exists for)."""
    from geoscan_fraud_spark.operators.components import connected_components

    chain = [(i, i + 1) for i in range(40)] + [(100, 101)]
    edges = spark.createDataFrame(chain, ["src", "dst"])
    expect = {i: 0 for i in range(41)} | {100: 100, 101: 100}

    def run():
        return {
            r.id: r.component
            for r in connected_components(edges, small_graph_threshold=0).collect()
        }

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    assert run() == expect

    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        assert run() == expect
        written = [d for d in ckpt.rglob("rdd-*") if d.is_dir()]
        assert written, "a configured checkpoint dir must receive the rounds"
    finally:
        # session fixture is shared: restore the no-checkpoint-dir default
        # (the Scala setter `checkpointDir_=` mangles to `checkpointDir_$eq`)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


def test_personalized_max_points_per_cell_caps_mega_group(spark):
    """VERDICT r05 #4: one mega-user must not land an unbounded pandas
    group. 100k points, ONE user, two tight blobs: with the cap the fit
    sees a bounded per-group row count, still finds both clusters, and
    the tile model still assigns the original points."""
    import numpy as np

    from geoscan_fraud_spark.operators.personalized import GeoscanPersonalized

    rnd = np.random.RandomState(0)
    n = 50_000
    blob_a = np.column_stack(
        [rnd.normal(40.70, 0.0002, n), rnd.normal(-74.00, 0.0002, n)]
    )
    blob_b = np.column_stack(
        [rnd.normal(40.80, 0.0002, n), rnd.normal(-73.90, 0.0002, n)]
    )
    pts = np.vstack([blob_a, blob_b])
    df = spark.createDataFrame(
        [("u1", float(la), float(lo)) for la, lo in pts],
        ["user", "latitude", "longitude"],
    )

    est = (
        GeoscanPersonalized()
        .setEpsilon(100)
        .setMinPts(3)
        .setMaxPointsPerCell(10)
        .setTileLayers(1)
    )
    model = est.fit(df)
    models = model.models.collect()
    # both blobs recovered, and the fitted point counts reflect the cap
    # (≈ cap x cells-visited, orders of magnitude below the raw 100k)
    assert len(models) == 2
    assert sum(m.n_points for m in models) < 10_000
    assert est.params_dict()["maxPointsPerCell"] == 10

    # recall on the ORIGINAL (uncapped) points: the tile join still
    # assigns the overwhelming majority to a cluster
    scored = model.transform(df)
    frac = scored.filter(F.col("cluster").isNotNull()).count() / scored.count()
    assert frac >= 0.9


def test_write_table_default_never_sweeps_foreign_directory(spark, sf_dir):
    """ADVICE r05: a directory with no entry in THIS session's in-memory
    catalog may be a concurrent session's live table. The default write
    must fail loudly and leave it untouched; only clear_orphan=True
    sweeps it."""
    import os
    from urllib.parse import urlparse

    from geoscan_fraud_spark.sources.io import load_fixture, write_table

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, "t_foreign")
    os.makedirs(loc, exist_ok=True)
    marker = os.path.join(loc, "part-00000-other-session.parquet")
    with open(marker, "w") as fh:
        fh.write("live bytes owned by a concurrent session")
    na = load_fixture(spark, sf_dir, "nation")
    try:
        with pytest.raises(Exception, match="(?i)location.*exists|already exists"):
            write_table(na, "t_foreign")
        assert os.path.exists(marker), "default write_table deleted foreign data"
        write_table(na, "t_foreign", clear_orphan=True)
        assert spark.table("t_foreign").count() == na.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_foreign")


def test_interval_join_rejects_ambiguous_and_reserved_columns(spark):
    from geoscan_fraud_spark.operators.asof import interval_join

    p = spark.createDataFrame([(1, 5.0, "x")], ["pid", "v", "tag"])
    iv = spark.createDataFrame([(1, 0.0, 10.0, "y")], ["iid_c", "lo", "hi", "tag"])
    with pytest.raises(ValueError, match="share non-key columns.*tag"):
        interval_join(p, iv, "v", "lo", "hi")
    p2 = p.withColumnRenamed("tag", "__pid")
    iv2 = iv.drop("tag")
    with pytest.raises(ValueError, match="reserved"):
        interval_join(p2, iv2, "v", "lo", "hi")


def test_interval_join_left_multiset_and_id_stability(spark):
    """The how='left' accounting must survive re-evaluation: ids are
    assigned behind a lineage cut, value-identical point rows each keep
    their own match row, and unmatched points arrive exactly once with
    NULL interval columns — even when the input arrives post-shuffle."""
    from geoscan_fraud_spark.operators.asof import interval_join

    rows = [(1, 5.0), (2, 5.0), (3, 25.0), (4, 99.0)]  # 99.0 unmatched
    p = (
        spark.createDataFrame(rows * 3, ["pid", "v"])
        .repartition(7, "v")  # adversarial: upstream shuffle before ids
        .filter(F.col("pid") <= 4)
        .distinct()
    )
    iv = spark.createDataFrame(
        [(100, 0.0, 10.0), (200, 20.0, 30.0), (300, 0.0, 30.0)],
        ["iv_id", "lo", "hi"],
    )
    out = interval_join(p, iv, "v", "lo", "hi", bucket_width=10.0, how="left")
    got = [(r.pid, r.iv_id) for r in out.collect()]
    assert sorted(got) == [
        (1, 100), (1, 300), (2, 100), (2, 300), (3, 200), (3, 300), (4, None),
    ]
    # inner path: no pair-dedup needed — each (point, interval) pair joins
    # in exactly one bucket even when the interval spans several
    inner = interval_join(p, iv, "v", "lo", "hi", bucket_width=5.0)
    assert inner.count() == 6


def test_asof_join_validates_and_orders_map_values(spark):
    from geoscan_fraud_spark.operators.asof import asof_join

    l = spark.createDataFrame([(1, 10, 1.0)], ["k", "ts", "value"])
    r = spark.createDataFrame([(1, 9, 2.0)], ["k", "ts", "value"])
    # suffixed collision: right 'value' -> 'value_r' is fine, but a left
    # column literally named value_r must be rejected
    with pytest.raises(ValueError, match="collide"):
        asof_join(l.withColumn("value_r", F.lit(0.0)), r, on=["k"])
    with pytest.raises(ValueError, match="reserved"):
        asof_join(l.withColumn("__rpack", F.lit(0)), r, on=["k"])
    # a MapType value column must not break analysis (no whole-struct sort)
    rm = r.withColumn("props", F.create_map(F.lit("a"), F.lit(1)))
    out = asof_join(l, rm, on=["k"]).collect()
    assert len(out) == 1 and out[0]["value_r"] == 2.0 and out[0]["props_r"]["a"] == 1


def test_interval_join_percentile_handles_odd_column_names(spark):
    """ADVICE r05 low: default bucket_width must not break on column
    names needing backticks (built via typed F.percentile_approx, not
    string-interpolated SQL)."""
    from geoscan_fraud_spark.operators.asof import interval_join

    p = spark.createDataFrame([(1, 5.0)], ["pid", "the point"])
    iv = spark.createDataFrame([(7, 0.0, 10.0)], ["iv id", "lo col", "hi col"])
    out = interval_join(p, iv, "the point", "lo col", "hi col")
    assert [(r["pid"], r["iv id"]) for r in out.collect()] == [(1, 7)]


def test_ivf_quantized_recall(spark, sf_dir):
    """VERDICT r05 #8: int8-quantized IVF with exact re-rank. (a) vs the
    float IVF at identical probing, the quantized scan + rerank loses
    almost nothing (isolates int8 rounding); (b) probing every list, the
    quantized path keeps >= 0.9 recall vs float brute force (the
    verdict's bar, with probing error excluded)."""
    from geoscan_fraud_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_topk_quantized,
    )
    from geoscan_fraud_spark.sources.io import load_fixture

    emb = load_fixture(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)

    def pairs(df):
        return {(r["query_id"], r["vec_id"]) for r in df.collect()}

    f_ivf = pairs(ivf_topk(q, emb, k=10, n_centroids=8, nprobe=4))
    q_ivf = pairs(ivf_topk_quantized(q, emb, k=10, n_centroids=8, nprobe=4))
    assert len(f_ivf & q_ivf) / len(f_ivf) >= 0.9

    exact = pairs(brute_force_topk(q, emb, k=10))
    q_full = pairs(ivf_topk_quantized(q, emb, k=10, n_centroids=8, nprobe=8))
    assert len(exact & q_full) / len(exact) >= 0.9


def test_embedding_max_bucket_guard(spark):
    rnd = random.Random(11)
    base = [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(20)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(1000 + j, base[0]) for j in range(150)]  # flood
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    uncapped = dd.embedding_neardup_pairs(
        df, dim=16, threshold=0.99, planes=8
    ).count()
    assert uncapped > 150 * 149 / 2
    capped = dd.embedding_neardup_pairs(
        df, dim=16, threshold=0.99, planes=8, max_bucket=10
    ).count()
    assert capped < 400
