"""SemDeDup-style semantic dedup + unigram-LM perplexity scoring."""

import math

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.similarity import (
    lloyd_centroids,
    semantic_dedup,
    semantic_pairs,
)
from geoscan_fraud_spark.operators.text import fit_unigram_lm, perplexity_score
from geoscan_fraud_spark.sources.io import load_fixture


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_fixture(spark, sf_dir, "embeddings")


def _centroids(emb, k=8):
    import numpy as np

    rows = emb.orderBy("vec_id").select("embedding").collect()
    X = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    return lloyd_centroids(X, k)


# ---------------------------------------------------------------------------
# semantic dedup
# ---------------------------------------------------------------------------


def test_scaled_copies_are_deduped(spark, emb):
    cent = _centroids(emb)
    dup = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
        "label",
    )
    both = emb.unionByName(dup)
    surv = semantic_dedup(both, threshold=0.98, centroids=cent)
    ids = {r[0] for r in surv.collect()}
    n = emb.count()
    # a scaled copy has cosine ~1 with its source and the same nearest
    # centroid -> exactly one of each pair survives, and it is the min id
    assert len(ids) == n
    assert all(i < 1_000_000 for i in ids)


def test_distinct_vectors_survive(spark, emb):
    cent = _centroids(emb)
    surv = semantic_dedup(emb, threshold=0.999, centroids=cent)
    # fixture vectors are distinct; at a near-1 threshold nothing drops
    assert surv.count() == emb.count()


def test_pairs_match_brute_force_within_clusters(spark, emb):
    """Every within-cluster pair the brute-force cosine finds, the
    operator finds (and nothing else), with the same cosine to 1e-9:
    blocking adds no false pairs and loses none INSIDE a cluster — the
    only recall loss SemDeDup allows is across cluster boundaries. The
    input carries scaled copies (cosine ~1 with their source) and a zero
    vector, which has no direction and must never pair."""
    import numpy as np

    cent = _centroids(emb)
    small = emb.filter(F.col("vec_id") < 100)
    copies = small.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
        "label",
    )
    zero_id = 2_000_000
    zero = small.filter(F.col("vec_id") == F.lit(1)).select(
        F.lit(zero_id).cast(small.schema["vec_id"].dataType).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.0)).alias("embedding"),
        "label",
    )
    both = small.unionByName(copies).unionByName(zero)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_pairs(both, threshold=0.5, centroids=cent).collect()
    }
    rows = both.orderBy("vec_id").select("vec_id", "embedding").collect()
    X = {r[0]: np.asarray(r[1], dtype=np.float64) for r in rows}
    assert zero_id in X and not X[zero_id].any()
    C = np.asarray(cent)

    def assign(v):
        return int(((C - v) ** 2).sum(axis=1).argmin())

    expect = {}
    ids = sorted(X)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if assign(X[a]) != assign(X[b]):
                continue
            na, nb = math.sqrt(X[a] @ X[a]), math.sqrt(X[b] @ X[b])
            if na == 0 or nb == 0:
                continue
            cos = X[a] @ X[b] / (na * nb)
            if cos >= 0.5:
                expect[(a, b)] = cos
    assert got.keys() == expect.keys()
    assert any(b == a + 1_000_000 for a, b in got)
    assert all(zero_id not in k for k in got)
    assert all(abs(got[k] - expect[k]) < 1e-9 for k in got)


def test_mllib_kmeans_path_dedups_copies(spark, emb):
    dup = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
        "label",
    )
    both = emb.unionByName(dup)
    surv = semantic_dedup(both, threshold=0.98, n_clusters=8, seed=7)
    # scale path (MLlib KMeans): same invariant — copies collapse
    assert surv.count() == emb.count()


def test_max_bucket_caps_hot_cluster(spark, emb):
    """A 200x-duplicated vector floods one cluster; the cap bounds the
    candidate pairs instead of emitting k^2/2."""
    cent = _centroids(emb)
    one = emb.filter(F.col("vec_id") == 1)
    flood = one.crossJoin(
        emb.sparkSession.range(200).select(F.col("id").alias("__i"))
    ).select(
        (F.col("vec_id") * 1000 + F.col("__i") + 10_000).alias("vec_id"),
        "embedding",
        "label",
    )
    both = emb.filter(F.col("vec_id") < 50).unionByName(flood)
    capped = semantic_pairs(both, threshold=0.98, centroids=cent, max_bucket=40)
    uncapped = semantic_pairs(both, threshold=0.98, centroids=cent)
    assert uncapped.count() >= 200 * 199 // 2
    assert capped.count() < 40 * 40 * 2


# ---------------------------------------------------------------------------
# unigram LM
# ---------------------------------------------------------------------------


def test_lm_closed_form_tiny_corpus(spark):
    """Hand-checkable: corpus 'a a b' -> N=3, V=2; alpha=0.5."""
    train = spark.createDataFrame([(0, "a a b")], ["doc_id", "text"])
    lm, oov = fit_unigram_lm(train, alpha=0.5)
    got = {r["t"]: r["logp"] for r in lm.collect()}
    denom = 3 + 0.5 * 3
    assert got["a"] == pytest.approx(math.log(2.5 / denom))
    assert got["b"] == pytest.approx(math.log(1.5 / denom))
    assert oov == pytest.approx(math.log(0.5 / denom))

    score = spark.createDataFrame(
        [(1, "a b"), (2, "z z"), (3, "")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in perplexity_score(score, lm, oov).collect()
    }
    nll_ab = -(math.log(2.5 / denom) + math.log(1.5 / denom)) / 2
    assert out[1]["nll"] == pytest.approx(nll_ab, abs=1e-6)
    assert out[1]["ppl"] == pytest.approx(math.exp(nll_ab), abs=1e-5)
    # all-OOV doc scores exactly the OOV mass
    assert out[2]["nll"] == pytest.approx(-oov, abs=1e-6)
    # empty doc: 0 tokens, NULL scores (no silent zero)
    assert out[3]["n_tokens"] == 0 and out[3]["nll"] is None


def test_lm_heldout_scores_higher_than_train(spark, sf_dir):
    """In-distribution (train) docs must score no worse on average than
    the same corpus under a model trained WITHOUT them sees them —
    i.e. the filter signal points the right way on the fixture."""
    docs = load_fixture(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    lm, oov = fit_unigram_lm(train)
    scored = perplexity_score(docs, lm, oov)
    avg = (
        scored.withColumn("held", F.col("doc_id") % 10 == 0)
        .groupBy("held")
        .agg(F.avg("nll").alias("a"))
    )
    by = {r["held"]: r["a"] for r in avg.collect()}
    assert by[False] <= by[True]


def test_lm_score_plan_is_broadcast(spark, sf_dir):
    """The scoring join must broadcast the vocabulary side — the corpus
    never shuffles for the join (one Exchange total: the per-doc agg)."""
    docs = load_fixture(spark, sf_dir, "documents")
    lm, oov = fit_unigram_lm(docs.limit(50))
    plan = (
        perplexity_score(docs, lm, oov)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# pipeline integration: normalized signatures + LM gate
# ---------------------------------------------------------------------------


def test_pipeline_normalized_signatures_and_lm_gate(spark, sf_dir):
    from geoscan_fraud_spark.operators.pipelines import prepare_training_corpus

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    # case/spacing variant of an existing doc: only normalized signatures
    # can see it as a duplicate
    variant = docs.limit(1).select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("  ")).alias("text"),
    )
    # gibberish doc: every token OOV under an LM trained on the corpus
    gibberish = spark.createDataFrame(
        [(900_777, " ".join(f"zq{i}xv" for i in range(40)))],
        "doc_id long, text string",
    )
    corpus_in = docs.unionByName(variant).unionByName(gibberish)

    # gate just below the all-OOV score: an all-OOV doc scores exactly
    # -oov_logp, so it must fail while ordinary in-vocabulary docs pass
    _, oov = fit_unigram_lm(docs)
    out = prepare_training_corpus(
        corpus_in,
        dedup_threshold=0.5,
        normalize_signatures=True,
        lm_reference=docs,
        max_nll=-oov - 0.25,
    )
    kept = {r.doc_id for r in out["corpus"].select("doc_id").collect()}
    assert 900_000 not in kept      # normalized dedup caught the variant
    assert 900_777 not in kept      # LM gate caught the gibberish
    # raw text preserved (no normalization leaked into the output)
    texts = dict(
        out["corpus"].select("doc_id", "text").limit(5).collect()
    )
    orig = dict(docs.filter(F.col("doc_id").isin(*texts)).collect())
    assert texts == orig
    # audit trail names the LM rule and carries the nll column
    ann = out["annotated"]
    assert "nll" in ann.columns
    reason = ann.filter(F.col("doc_id") == 900_777).first()["reject_reason"]
    assert reason == "lm_nll"


def test_pipeline_default_path_unchanged_by_new_options(spark, sf_dir):
    from geoscan_fraud_spark.operators.pipelines import prepare_training_corpus

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    out = prepare_training_corpus(docs, dedup_threshold=0.5)
    assert "nll" not in out["annotated"].columns
    assert "__sig_text" not in out["corpus"].columns


# ---------------------------------------------------------------------------
# persisted IVF index
# ---------------------------------------------------------------------------


def test_ivf_index_roundtrip_matches_inline(spark, emb, tmp_path):
    """Query-from-disk == inline ivf_topk under the same fixed quantizer
    when re-ranking against the same full-precision corpus."""
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_query,
        ivf_index_write,
        ivf_topk,
    )

    cent = _centroids(emb, k=8)
    path = str(tmp_path / "ivf")
    n = ivf_index_write(emb, path, centroids=cent)
    assert n == 8
    q = emb.filter(F.col("vec_id") < 20)
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_index_query(
            q, path, k=5, nprobe=4, rerank_corpus=emb
        ).collect()
    }
    exp = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(q, emb, k=5, nprobe=4, centroids=cent).collect()
    }
    assert got == exp


def test_ivf_index_scan_prunes_to_probed_lists(spark, emb, tmp_path):
    """The probe filter must reach the file listing: only the probed
    list_id partition directories appear in the scan's input files."""
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_query,
        ivf_index_write,
    )

    cent = _centroids(emb, k=8)
    path = str(tmp_path / "ivf")
    ivf_index_write(emb, path, centroids=cent)
    import re

    q = emb.filter(F.col("vec_id") == 0)
    out = ivf_index_query(q, path, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[list_id[^\]]*IN \(([^)]*)\)", plan)
    # every list scan carries a static 2-element IN over the probed ids
    assert filters, plan[:500]
    assert all(len(f.split(",")) == 2 for f in filters)


def test_ivf_index_tombstones_keep_pruning_and_broadcast(spark, emb, tmp_path):
    """The tombstone anti-join must not cost the index its scale
    properties: the probe's static partition pruning still reaches the
    file listing, and the anti-join broadcasts (no sort-merge join)."""
    import re

    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_query,
        ivf_index_write,
    )
    from geoscan_fraud_spark.sources.io import index_delete

    cent = _centroids(emb, k=8)
    path = str(tmp_path / "ivf_tp")
    ivf_index_write(emb, path, centroids=cent)
    index_delete(spark, path, [1, 2, 3])

    out = ivf_index_query(emb.filter(F.col("vec_id") == 0), path, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[list_id.*IN", plan), plan[:800]
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_index_mllib_path_and_dequantized_rerank(spark, emb, tmp_path):
    """MLlib-fit index + dequantized re-rank: recall vs brute force
    stays high (quantization error is sub-0.5%)."""
    from geoscan_fraud_spark.operators.similarity import (
        brute_force_topk,
        ivf_index_query,
        ivf_index_write,
    )

    path = str(tmp_path / "ivf_ml")
    ivf_index_write(emb, path, n_centroids=8, seed=5)
    q = emb.filter(F.col("vec_id") < 30)
    got = ivf_index_query(q, path, k=10, nprobe=6)
    exact = brute_force_topk(q, emb, k=10)
    g = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert len(g & e) / len(e) >= 0.9


def test_ivf_index_append_equivalent_to_full_build(spark, emb, tmp_path):
    """Building on half the corpus then appending the other half must
    serve IDENTICAL query results to an index built over the full corpus
    with the same frozen quantizer — the append path changes WHEN
    vectors are indexed, never where they land or how they score."""
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_query,
        ivf_index_write,
    )

    cent = _centroids(emb, k=8)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)

    inc_path = str(tmp_path / "ivf_inc")
    ivf_index_write(half_a, inc_path, centroids=cent)
    res = ivf_index_append(half_b, inc_path)
    assert res["rows"] == half_b.count()
    assert res["rebuild_recommended"] is False
    assert res["drift_ratio"] is not None and res["drift_ratio"] > 0

    full_path = str(tmp_path / "ivf_full")
    ivf_index_write(emb, full_path, centroids=cent)

    q = emb.filter(F.col("vec_id") < 20)
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in ivf_index_query(q, inc_path, k=5, nprobe=4).collect()
    }
    exp = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in ivf_index_query(q, full_path, k=5, nprobe=4).collect()
    }
    assert got == exp and len(got) > 0

    # meta counters track the append
    import json
    import os

    with open(os.path.join(inc_path, "centroids.json")) as f:
        meta = json.load(f)
    assert meta["appended_rows"] == res["rows"]
    assert meta["rows"] == half_a.count()


def test_ivf_index_append_drift_guard_and_dim_check(spark, emb, tmp_path):
    """A shifted batch (distribution moved away from every centroid)
    must trip the rebuild recommendation; a wrong-dim batch must be
    rejected before any file lands."""
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_write,
    )

    cent = _centroids(emb, k=8)
    path = str(tmp_path / "ivf_drift")
    ivf_index_write(emb, path, centroids=cent)

    shifted = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(50.0)).alias("embedding"),
    )
    res = ivf_index_append(shifted, path)
    assert res["rebuild_recommended"] is True
    assert res["drift_ratio"] > 2.0

    truncated = emb.select(
        "vec_id", F.slice("embedding", 1, 3).alias("embedding")
    )
    with pytest.raises(ValueError, match="dim mismatch"):
        ivf_index_append(truncated, path)


def test_ivf_index_stats_occupancy(spark, emb, tmp_path):
    """Per-list occupancy sums to everything ever indexed and grows by
    exactly the appended batch."""
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_stats,
        ivf_index_write,
    )

    cent = _centroids(emb, k=8)
    path = str(tmp_path / "ivf_stats")
    ivf_index_write(emb, path, centroids=cent)
    n = emb.count()
    s0 = ivf_index_stats(spark, path)
    assert s0.agg(F.sum("n_vectors")).collect()[0][0] == n

    batch = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    ivf_index_append(batch, path)
    s1 = ivf_index_stats(spark, path)
    assert s1.agg(F.sum("n_vectors")).collect()[0][0] == n + batch.count()


def test_ivf_index_compact_preserves_results_and_folds_files(
    spark, emb, tmp_path
):
    """Compaction is pure relayout: after two appends each list dir has
    several file sets; compact folds to one file per dir, the partition
    layout survives (pruning still works), and query results are
    byte-identical."""
    import os

    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_compact,
        ivf_index_query,
        ivf_index_write,
    )

    cent = _centroids(emb, k=8)
    path = str(tmp_path / "ivf_cpt")
    thirds = [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    ivf_index_write(thirds[0], path, centroids=cent)
    ivf_index_append(
        thirds[1].select(
            (F.col("vec_id")).alias("vec_id"), "embedding"
        ),
        path,
    )
    ivf_index_append(thirds[2].select("vec_id", "embedding"), path)

    q = emb.filter(F.col("vec_id") < 10)
    before = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in ivf_index_query(q, path, k=5, nprobe=4).collect()
    }

    def files_per_dir():
        # resolve the LIVE lists dir (compaction flips the gen pointer)
        from geoscan_fraud_spark.sources.io import gen_dir, read_index_meta

        lists = gen_dir(path, "lists", read_index_meta(path + "/centroids.json"))
        out = {}
        for d in os.listdir(lists):
            if d.startswith("list_id="):
                out[d] = sum(
                    1
                    for f in os.listdir(os.path.join(lists, d))
                    if not f.startswith(("_", "."))
                )
        return out

    assert max(files_per_dir().values()) > 1  # appends really did accrete
    ivf_index_compact(spark, path)
    per_dir = files_per_dir()
    assert per_dir and all(v == 1 for v in per_dir.values())

    after = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in ivf_index_query(q, path, k=5, nprobe=4).collect()
    }
    assert after == before and len(after) > 0


def test_ivf_maintenance_refuses_crashed_leftovers(spark, emb, tmp_path):
    """Both maintenance ops refuse to run over a previous crash's
    leftover dirs instead of silently clobbering them."""
    import os

    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_compact,
        ivf_index_rebuild,
        ivf_index_write,
    )

    cent = _centroids(emb, k=8)
    path = str(tmp_path / "ivf_lo")
    ivf_index_write(emb, path, centroids=cent)

    os.makedirs(path + "/lists.__old__")
    with pytest.raises(ValueError, match="crashed mid-swap"):
        ivf_index_compact(spark, path)
    os.rmdir(path + "/lists.__old__")

    os.makedirs(path + ".__rebuild__")
    with pytest.raises(ValueError, match="crashed mid-swap"):
        ivf_index_rebuild(spark, path)


def test_ivf_index_expire_ages_out_old_generations(spark, emb, tmp_path):
    """Retention: append generations are src_batch-stamped; expire drops
    generations below the cutoff, keeps the build (-1) forever, and a
    legacy (format-1) index is refused with a rebuild hint."""
    import json

    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_write,
    )
    from geoscan_fraud_spark.sources.io import (
        gen_dir,
        index_expire,
        read_index_meta,
    )

    cent = _centroids(emb, k=8)
    path = str(tmp_path / "ivf_exp")
    ivf_index_write(emb, path, centroids=cent)
    n = emb.count()
    gen1 = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    gen2 = emb.select((F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding")
    ivf_index_append(gen1.limit(20), path)
    ivf_index_append(gen2.limit(30), path)

    lists = spark.read.parquet(path + "/lists")
    gens = {r["src_batch"] for r in lists.select("src_batch").distinct().collect()}
    assert gens == {-1, 1, 2}

    index_expire(spark, path, min_src_batch=2)

    after = spark.read.parquet(
        gen_dir(path, "lists", read_index_meta(path + "/centroids.json"))
    )
    ids = {r["vec_id"] for r in after.select("vec_id").collect()}
    assert len(ids) == n + 30  # build + gen2 survive, gen1 aged out
    assert not any(1_000_000 <= i < 2_000_000 for i in ids)
    assert any(i >= 2_000_000 for i in ids)

    with open(path + "/centroids.json") as f:
        meta = json.load(f)
    meta["format"] = 1
    with open(path + "/centroids.json", "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="format-2"):
        index_expire(spark, path, min_src_batch=3)


def test_ivf_index_rebuild_adapts_to_drift(spark, emb, tmp_path):
    """The drift loop end-to-end: a shifted ingest trips the guard, a
    rebuild from the index's own contents adapts the quantizer, and the
    next batch from the NEW distribution no longer trips it. Row set and
    stream cursor survive the rebuild."""
    import json

    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_query,
        ivf_index_rebuild,
        ivf_index_stats,
        ivf_index_write,
    )

    cent = _centroids(emb, k=8)
    path = str(tmp_path / "ivf_rb")
    ivf_index_write(emb, path, centroids=cent)
    with open(path + "/centroids.json") as f:
        meta = json.load(f)
    meta["last_stream_batch"] = 7
    with open(path + "/centroids.json", "w") as f:
        json.dump(meta, f)

    shifted = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(50.0)).alias("embedding"),
    )
    res = ivf_index_append(shifted, path)
    assert res["rebuild_recommended"] is True
    n_total = emb.count() * 2

    k = ivf_index_rebuild(spark, path, seed=3)
    assert k == 8
    with open(path + "/centroids.json") as f:
        rebuilt = json.load(f)
    assert rebuilt["centroids"] != cent  # the quantizer really moved
    assert rebuilt["last_stream_batch"] == 7  # stream cursor survived
    assert rebuilt["rows"] == n_total and rebuilt["appended_rows"] == 0

    total = ivf_index_stats(spark, path).agg(F.sum("n_vectors")).collect()[0][0]
    assert total == n_total  # no vector lost in the swap

    # a second batch from the SHIFTED distribution now fits the quantizer
    more = emb.select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(50.0)).alias("embedding"),
    )
    res2 = ivf_index_append(more, path)
    assert res2["rebuild_recommended"] is False

    # and the rebuilt index still serves
    q = emb.filter(F.col("vec_id") < 3)
    assert ivf_index_query(q, path, k=5, nprobe=4).count() == 15


def test_ivf_index_delete_tombstones_then_compact(spark, emb, tmp_path):
    """Deleted vectors vanish from results immediately (read-side
    anti-join), top-k backfills from the next candidates, and compaction
    makes the delete physical and clears the tombstones."""
    import os

    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_compact,
        ivf_index_query,
        ivf_index_stats,
        ivf_index_write,
    )
    from geoscan_fraud_spark.sources.io import (
        gen_dir,
        index_delete,
        index_vacuum,
        read_index_meta,
    )

    cent = _centroids(emb, k=8)
    path = str(tmp_path / "ivf_del")
    ivf_index_write(emb, path, centroids=cent)
    n = emb.count()

    q = emb.filter(F.col("vec_id") < 3)
    before = ivf_index_query(q, path, k=5, nprobe=4).collect()
    top1 = sorted({r["vec_id"] for r in before if r["rank"] == 1})
    assert top1

    index_delete(spark, path, top1)
    after = ivf_index_query(q, path, k=5, nprobe=4).collect()
    assert not ({r["vec_id"] for r in after} & set(top1))
    # top-k backfills: still k rows per query
    from collections import Counter

    assert set(Counter(r["query_id"] for r in after).values()) == {5}

    # physical rows unchanged until maintenance
    total = lambda: ivf_index_stats(spark, path).agg(  # noqa: E731
        F.sum("n_vectors")
    ).collect()[0][0]
    assert total() == n
    ivf_index_compact(spark, path)
    assert total() == n - len(top1)
    # the LIVE generation starts tombstone-free (the old snapshot keeps
    # its tombstones for in-flight readers until vacuum removes both)
    live_meta = read_index_meta(path + "/centroids.json")
    assert not os.path.isdir(gen_dir(path, "tombstones", live_meta))
    assert os.path.isdir(path + "/tombstones")  # old snapshot's, pre-vacuum
    removed = index_vacuum(path)
    assert "tombstones" in removed and "lists" in removed
    assert not os.path.isdir(path + "/tombstones")
    healed = ivf_index_query(q, path, k=5, nprobe=4).collect()
    key = lambda rows: {  # noqa: E731
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"]) for r in rows
    }
    assert key(healed) == key(after)
