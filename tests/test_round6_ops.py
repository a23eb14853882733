"""Round-6 operators: incremental dedup against a signature index,
skew-salted join, weighted sampling, HLL corpus profiling."""

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.incremental import (
    dedup_against_index,
    estimated_jaccard,
    minhash_index,
)
from geoscan_fraud_spark.operators.profiling import merge_profiles, profile_corpus
from geoscan_fraud_spark.operators.sampling import weighted_sample
from geoscan_fraud_spark.operators.skew import salted_join
from geoscan_fraud_spark.sources.io import load_fixture


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_fixture(spark, sf_dir, "documents").select("doc_id", "text")


# ---------------------------------------------------------------------------
# incremental dedup
# ---------------------------------------------------------------------------


def _mutate(docs, id_shift, drop_mod=13, drop_idx=5):
    words = F.split(F.col("text"), r"\s+")
    return docs.select(
        (F.col("doc_id") + id_shift).alias("doc_id"),
        F.concat_ws(
            " ", F.filter(words, lambda w, i: (i % drop_mod) != drop_idx)
        ).alias("text"),
    )


def test_exact_copies_match_index_with_estimate_one(spark, docs):
    idx = minhash_index(docs, num_hashes=48)
    copies = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    kept = dedup_against_index(
        copies, idx, num_hashes=48, bands=12, threshold=0.99
    )
    # identical text -> identical signature -> estimate 1.0 -> all dropped
    assert kept.count() == 0


def test_fresh_docs_survive_index(spark, docs):
    half = docs.filter(F.col("doc_id") % 2 == 0)
    other = docs.filter(F.col("doc_id") % 2 == 1)
    idx = minhash_index(half, num_hashes=48)
    kept = dedup_against_index(
        other, idx, num_hashes=48, bands=12, threshold=0.5
    )
    # the fixture corpus PLANTS real near-dups (e.g. doc 33 vs 436 differ
    # by one trailing word), so a handful of odd-half docs legitimately
    # match the even-half index or each other; the bulk must survive
    assert kept.count() >= int(other.count() * 0.9)


def test_incremental_matches_mutated_neardups(spark, docs):
    idx = minhash_index(docs, num_hashes=48)
    mutated = _mutate(docs, 1_000_000)
    kept = dedup_against_index(
        mutated, idx, num_hashes=48, bands=12, threshold=0.5
    )
    # 1-in-13 word drop keeps true Jaccard ~0.6; the estimate (stderr
    # ~0.07 at H=48) clears 0.5 for the large majority
    assert kept.count() <= int(mutated.count() * 0.2)


def test_batch_internal_component_rule(spark):
    # a: indexed. batch: b ~ a (near-dup of index), c ~ b (chained, not
    # directly near a), d unrelated -> component {b, c} contains an
    # index-matched member, both drop; d survives.
    base = " ".join(f"w{i}" for i in range(60))
    words = base.split()
    b_text = " ".join(w for i, w in enumerate(words) if i % 13 != 5)
    c_text = " ".join(w for i, w in enumerate(words) if i % 13 != 5 and i % 17 != 3)
    d_text = " ".join(f"z{i}" for i in range(60))
    a = spark.createDataFrame([(1, base)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, b_text), (11, c_text), (12, d_text)], "doc_id long, text string"
    )
    idx = minhash_index(a, num_hashes=48)
    kept = dedup_against_index(batch, idx, num_hashes=48, bands=12, threshold=0.4)
    assert sorted(r.doc_id for r in kept.collect()) == [12]


def test_estimated_jaccard_bounds(spark, docs):
    sig = minhash_index(docs.limit(20), num_hashes=48)
    a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        a.crossJoin(b)
        .withColumn("est", estimated_jaccard(F.col("sig_a"), F.col("sig_b")))
        .collect()
    )
    for r in est:
        assert 0.0 <= r.est <= 1.0
        if r.id_a == r.id_b:
            assert r.est == 1.0


def test_index_roundtrip_through_parquet(spark, docs, tmp_path):
    idx = minhash_index(docs.limit(50), num_hashes=48)
    path = str(tmp_path / "sig_index")
    idx.write.parquet(path)
    idx_back = spark.read.parquet(path)
    copies = docs.limit(50).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    kept = dedup_against_index(
        copies, idx_back, num_hashes=48, bands=12, threshold=0.99
    )
    assert kept.count() == 0


# ---------------------------------------------------------------------------
# salted join
# ---------------------------------------------------------------------------


def test_salted_join_equals_plain_inner(spark, sf_dir):
    o = load_fixture(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_fixture(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    plain = o.join(c.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
    salted = salted_join(
        o, c.withColumnRenamed("c_custkey", "o_custkey"), ["o_custkey"], salt=8
    )
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_join_left_preserves_unmatched(spark):
    left = spark.range(0, 100).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    right = spark.createDataFrame([(0, "a"), (1, "b")], "k long, tag string")
    out = salted_join(left, right, ["k"], how="left", salt=4)
    rows = out.collect()
    assert len(rows) == 100
    unmatched = [r for r in rows if r.tag is None]
    assert len(unmatched) == len([r for r in rows if r.k == 2])


def test_salted_join_scatters_hot_key(spark):
    # one hot key with varied payloads must spread across several salts
    from geoscan_fraud_spark.operators.skew import _SALT_COL  # noqa: F401

    left = spark.range(0, 1000).select(
        F.lit(7).alias("k"), F.col("id").alias("v")
    )
    s = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col("k"), F.col("v"), F.lit(42)), F.lit(16)).cast("int"),
    )
    n_salts = s.select("__salt").distinct().count()
    assert n_salts >= 12  # 1000 draws over 16 buckets: all ~certainly hit


def test_salted_join_rejects_bad_args(spark):
    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(df, df, ["k"], how="full")
    with pytest.raises(ValueError):
        salted_join(df, df, ["k"], salt=0)
    bad = df.withColumn("__salt", F.lit(1))
    with pytest.raises(ValueError):
        salted_join(bad, df, ["k"])


# ---------------------------------------------------------------------------
# weighted sampling
# ---------------------------------------------------------------------------


def test_weighted_sample_size_and_determinism(spark, sf_dir):
    d = load_fixture(spark, sf_dir, "documents")
    s1 = weighted_sample(d, "n_chars", 50, seed=7)
    s2 = weighted_sample(d, "n_chars", 50, seed=7)
    ids1 = sorted(r.doc_id for r in s1.collect())
    ids2 = sorted(r.doc_id for r in s2.collect())
    assert len(ids1) == 50
    assert ids1 == ids2
    s3 = weighted_sample(d, "n_chars", 50, seed=8)
    assert sorted(r.doc_id for r in s3.collect()) != ids1


def test_weighted_sample_bias(spark):
    # two strata, weights 10:1 -> heavy stratum should dominate the sample
    rows = [(i, 10.0 if i < 500 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    heavy_share = []
    for seed in range(5):
        s = weighted_sample(df, "w", 100, seed=seed)
        heavy = s.filter(F.col("doc_id") < 500).count()
        heavy_share.append(heavy / 100.0)
    avg = sum(heavy_share) / len(heavy_share)
    # E[heavy share] ~ 0.89 under A-ES with 10:1 weights at 10% sampling
    assert avg > 0.75


def test_weighted_sample_excludes_nonpositive(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None)], "doc_id long, w double"
    )
    s = weighted_sample(df, "w", 10)
    assert [r.doc_id for r in s.collect()] == [1]


# ---------------------------------------------------------------------------
# HLL profiling
# ---------------------------------------------------------------------------


def test_profile_estimate_near_exact(spark, docs):
    prof = profile_corpus(docs, None).collect()[0]
    exact = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("t"))
        .select("t")
        .distinct()
        .count()
    )
    assert prof.n_docs == docs.count()
    assert abs(prof.distinct_tokens - exact) / exact < 0.05
    exact_tokens = docs.select(
        F.sum(F.size(F.split("text", r"\s+")))
    ).collect()[0][0]
    assert prof.n_tokens == exact_tokens


def test_profile_merge_matches_global(spark, sf_dir):
    d = load_fixture(spark, sf_dir, "documents")
    per_source = profile_corpus(d, ["source"])
    merged = merge_profiles(per_source, None).collect()[0]
    direct = profile_corpus(d, None).collect()[0]
    assert merged.n_docs == direct.n_docs
    assert merged.n_tokens == direct.n_tokens
    # HLL union of disjoint-batch sketches == sketch of the union
    assert (
        abs(merged.distinct_tokens - direct.distinct_tokens)
        <= 0.01 * direct.distinct_tokens
    )


def test_profile_groups(spark, sf_dir):
    d = load_fixture(spark, sf_dir, "documents")
    prof = profile_corpus(d, ["source"])
    sources = {r.source for r in d.select("source").distinct().collect()}
    assert {r.source for r in prof.collect()} == sources
    assert prof.filter(F.col("n_docs") <= 0).count() == 0


# ---------------------------------------------------------------------------
# physical plans — the properties that matter at 100 TB
# ---------------------------------------------------------------------------


def test_weighted_sample_plan_is_topk_not_global_sort(spark, sf_dir):
    from geoscan_fraud_spark.plans.audit import formatted_plan, plan_summary

    d = load_fixture(spark, sf_dir, "documents")
    s = weighted_sample(d, "n_chars", 50)
    plan = formatted_plan(s)
    assert "TakeOrderedAndProject" in plan
    summary = plan_summary(s)
    assert summary["python_eval"] == 0
    assert summary["row_sorts"] == 0  # no full Sort node — heaps only


def test_salted_join_plan_joins_on_salt(spark, sf_dir):
    from geoscan_fraud_spark.plans.audit import formatted_plan, plan_summary

    o = load_fixture(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_fixture(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    out = salted_join(o, c, ["o_custkey"], salt=8)
    plan = formatted_plan(out)
    assert "__salt" in plan  # the salt is a real join key in the plan
    assert plan_summary(out)["python_eval"] == 0


def test_profile_and_incremental_are_all_jvm(spark, sf_dir):
    from geoscan_fraud_spark.plans.audit import plan_summary

    d = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    assert plan_summary(profile_corpus(d, ["doc_id"]))["python_eval"] == 0
    idx = minhash_index(d.limit(10), num_hashes=48)
    sig_plan = plan_summary(idx)
    assert sig_plan["python_eval"] == 0


# ---------------------------------------------------------------------------
# repetition stats
# ---------------------------------------------------------------------------


def _round_half_up(x, places=4):
    # Spark's F.round is HALF_UP; python's round() is banker's
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _py_repetition(text, n):
    words = text.split()
    if len(words) >= n:
        grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
    else:
        grams = [" ".join(words)]
    total = len(grams)
    dup = _round_half_up((total - len(set(grams))) / total)
    from collections import Counter

    top = _round_half_up(Counter(grams).most_common(1)[0][1] / total)
    return dup, top


def test_repetition_stats_hand_cases(spark):
    from geoscan_fraud_spark.operators.text import repetition_stats

    rows = [
        (1, "a b a b a b"),          # heavy 2-gram repetition
        (2, "one two three four"),    # no repeats
        (3, "x"),                     # shorter than n
        (4, "spam spam spam spam spam"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df, ns=(2,)).collect()}
    for doc_id, text in rows:
        dup, top = _py_repetition(text, 2)
        assert got[doc_id][f"dup_frac_2"] == dup, (doc_id, text)
        assert got[doc_id][f"top_frac_2"] == top, (doc_id, text)
    # "a b a b a b": grams = [ab, ba, ab, ba, ab] -> dup 3/5, top 3/5
    assert got[1].dup_frac_2 == 0.6
    assert got[1].top_frac_2 == 0.6
    assert got[3].dup_frac_2 == 0.0 and got[3].top_frac_2 == 1.0


@pytest.mark.parametrize("impl", ["arrow", "native"])
def test_repetition_stats_matches_python_reference(spark, docs, impl):
    from geoscan_fraud_spark.operators.text import repetition_stats

    sample = docs.limit(100)
    got = {
        r.doc_id: r
        for r in repetition_stats(sample, ns=(2, 3), impl=impl).collect()
    }
    for r in sample.collect():
        for n in (2, 3):
            dup, top = _py_repetition(r.text, n)
            assert got[r.doc_id][f"dup_frac_{n}"] == dup, (r.doc_id, n)
            assert got[r.doc_id][f"top_frac_{n}"] == top, (r.doc_id, n)


def test_repetition_stats_is_map_only(spark, docs):
    from geoscan_fraud_spark.operators.text import repetition_stats
    from geoscan_fraud_spark.plans.audit import plan_summary

    # native: pure JVM — zero shuffles, zero Python boundaries
    s = plan_summary(repetition_stats(docs, impl="native"))
    assert s["shuffles"] == 0
    assert s["python_eval"] == 0
    # arrow (default, r12): still map-only — zero shuffles, an Arrow
    # batch boundary (MapInPandas), never row-at-a-time Python
    from geoscan_fraud_spark.plans.audit import formatted_plan

    arrow = repetition_stats(docs)
    s = plan_summary(arrow)
    assert s["shuffles"] == 0
    plan = formatted_plan(arrow)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# end-to-end corpus preparation
# ---------------------------------------------------------------------------


def test_prepare_training_corpus_end_to_end(spark, docs):
    from geoscan_fraud_spark.operators.pipelines import prepare_training_corpus

    # corpus: fixture docs + an exact copy (dedup fodder) + a spammy doc
    # (quality fodder) + a doc quoting the benchmark (decontam fodder)
    bench_text = " ".join(f"bench{i}" for i in range(20))
    extra = spark.createDataFrame(
        [
            (900_001, "spam " * 50),                     # top_frac_2 ~ 1
            (900_002, bench_text + " trailing words here okay fine"),
        ],
        "doc_id long, text string",
    )
    copy = docs.limit(1).select(
        (F.col("doc_id") + 900_100).alias("doc_id"), "text"
    )
    corpus_in = docs.unionByName(extra).unionByName(copy)
    benchmark = spark.createDataFrame([(1, bench_text)], "doc_id long, text string")

    out = prepare_training_corpus(
        corpus_in, benchmark, dedup_threshold=0.5, decontam_n=8
    )
    report = {r.stage: r.n_docs for r in out["report"].collect()}
    n_in = corpus_in.count()
    assert report["input"] == n_in
    assert report["quality_passed"] < report["input"]       # spam dropped
    assert report["after_dedup"] < report["quality_passed"]  # copy dropped
    assert report["after_decontam"] < report["after_dedup"]  # quote dropped

    kept = out["corpus"]
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 900_001 not in ids and 900_002 not in ids
    # the exact copy lost to its min-id original
    assert not any(i >= 900_100 for i in ids)
    # split column present and deterministic
    splits = {r.split for r in kept.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    # audit trail names the failing rule
    reasons = {
        r.doc_id: r.reject_reason
        for r in out["annotated"].select("doc_id", "reject_reason").collect()
    }
    assert reasons[900_001] in ("top_2gram", "dup_3grams")


def test_weighted_sample_scale_invariant(spark):
    # A-ES property: u^(1/(c*w)) is a monotone transform of u^(1/w) for
    # any c>0, so scaling every weight leaves the selected SET unchanged
    rows = [(i, float(1 + (i * 37) % 100)) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    base = sorted(r.doc_id for r in weighted_sample(df, "w", 100, seed=3).collect())
    scaled_df = df.withColumn("w", F.col("w") * 7.25)
    scaled = sorted(
        r.doc_id for r in weighted_sample(scaled_df, "w", 100, seed=3).collect()
    )
    assert base == scaled


def test_salted_join_salt_one_degenerates_to_plain(spark):
    left = spark.range(0, 50).select((F.col("id") % 5).alias("k"), "id")
    right = spark.createDataFrame([(i, f"t{i}") for i in range(5)], "k long, tag string")
    out = salted_join(left, right, ["k"], salt=1)
    plain = left.join(right, "k")
    assert out.exceptAll(plain).count() == 0
    assert plain.exceptAll(out).count() == 0


# ---------------------------------------------------------------------------
# embedding store
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return load_fixture(spark, sf_dir, "embeddings")


def test_embedding_index_drops_exact_copies(spark, embeddings):
    from geoscan_fraud_spark.operators.incremental import (
        embedding_dedup_against_index,
        embedding_index,
    )

    idx = embedding_index(embeddings)
    copies = embeddings.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    kept = embedding_dedup_against_index(copies, idx, threshold=0.98)
    # identical vectors: cosine vs dequantized self ~1 (>0.98 easily)
    assert kept.count() == 0


def test_embedding_index_keeps_fresh_vectors(spark, embeddings):
    from geoscan_fraud_spark.operators.incremental import (
        embedding_dedup_against_index,
        embedding_index,
    )

    half = embeddings.filter(F.col("vec_id") % 2 == 0)
    other = embeddings.filter(F.col("vec_id") % 2 == 1)
    idx = embedding_index(half)
    kept = embedding_dedup_against_index(other, idx, threshold=0.995)
    # random-ish fixture vectors: distinct vectors shouldn't hit 0.995
    # cosine vs the other half (allow a couple of planted near-dups)
    assert kept.count() >= int(other.count() * 0.9)


def test_embedding_index_roundtrip_and_bucket_stability(spark, embeddings, tmp_path):
    from geoscan_fraud_spark.operators.incremental import (
        embedding_dedup_against_index,
        embedding_index,
    )

    idx = embedding_index(embeddings.limit(100))
    path = str(tmp_path / "emb_idx")
    idx.write.parquet(path)
    idx_back = spark.read.parquet(path)
    copies = embeddings.limit(100).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    kept = embedding_dedup_against_index(copies, idx_back, threshold=0.98)
    assert kept.count() == 0


# ---------------------------------------------------------------------------
# winnow shared pairs + token entropy
# ---------------------------------------------------------------------------


def test_winnow_shared_pairs_finds_lifted_paragraph(spark):
    from geoscan_fraud_spark.operators.text import winnow_shared_pairs

    para = " ".join(f"shared{i}" for i in range(30))
    a = para + " " + " ".join(f"a{i}" for i in range(100))
    b = " ".join(f"b{i}" for i in range(100)) + " " + para
    c = " ".join(f"c{i}" for i in range(130))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    pairs = {(r.id_a, r.id_b): r.n_shared for r in winnow_shared_pairs(df).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2  # the lifted paragraph
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_winnow_shared_pairs_low_global_jaccard(spark):
    # the MinHash-misses case: global token Jaccard of the pair is tiny
    para = " ".join(f"shared{i}" for i in range(30))
    a = para + " " + " ".join(f"a{i}" for i in range(400))
    b = " ".join(f"b{i}" for i in range(400)) + " " + para
    ja = len(set(a.split()) & set(b.split())) / len(set(a.split()) | set(b.split()))
    assert ja < 0.05
    from geoscan_fraud_spark.operators.text import winnow_shared_pairs

    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    assert winnow_shared_pairs(df).count() == 1


def test_token_entropy_values(spark):
    import math

    from geoscan_fraud_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [
            (1, "a a a a"),                  # H = 0
            (2, "a b c d"),                  # H = ln 4
            (3, "a a b b"),                  # H = ln 2
            (4, "x"),                        # single token: H = 0
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.entropy for r in token_entropy(df).collect()}
    assert got[1] == 0.0
    assert abs(got[2] - round(math.log(4), 4)) < 1e-9
    assert abs(got[3] - round(math.log(2), 4)) < 1e-9
    assert got[4] == 0.0


def test_token_entropy_matches_python_reference(spark, docs):
    import math
    from collections import Counter

    from geoscan_fraud_spark.operators.text import token_entropy

    got = {r.doc_id: r.entropy for r in token_entropy(docs.limit(50)).collect()}
    for r in docs.limit(50).collect():
        c = Counter(r.text.split())
        n = sum(c.values())
        h = math.log(n) - sum(v * math.log(v) for v in c.values()) / n
        assert abs(got[r.doc_id] - h) < 5e-4, r.doc_id


def test_entropy_and_repetition_are_map_only(spark, docs):
    from geoscan_fraud_spark.operators.text import token_entropy
    from geoscan_fraud_spark.plans.audit import plan_summary

    s = plan_summary(token_entropy(docs))
    assert s["shuffles"] == 0 and s["python_eval"] == 0


def test_estimated_jaccard_rejects_length_mismatch(spark, docs):
    idx48 = minhash_index(docs.limit(5), num_hashes=48)
    batch = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with pytest.raises(Exception, match="length mismatch"):
        dedup_against_index(
            batch, idx48, num_hashes=32, bands=8, threshold=0.5
        ).count()


def test_incremental_precollapse_equivalent_on_flooded_batch(spark, docs):
    # 300 exact copies of one doc + normal docs: guard on and off must
    # keep the same set (copies always lose to their min-id original)
    base = docs.limit(20)
    idx = minhash_index(base, num_hashes=48)
    one = docs.filter(F.col("doc_id") == 0).select("text").first().text
    flood = spark.createDataFrame(
        [(1_000_000 + i, one) for i in range(300)]
        + [(2_000_000, " ".join(f"fresh{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    kept_on = sorted(
        r.doc_id
        for r in dedup_against_index(
            flood, idx, num_hashes=48, bands=12, threshold=0.5
        ).collect()
    )
    kept_off = sorted(
        r.doc_id
        for r in dedup_against_index(
            flood, idx, num_hashes=48, bands=12, threshold=0.5,
            precollapse_exact=False,
        ).collect()
    )
    assert kept_on == kept_off
    # doc 0's text is in the index: every copy matched and dropped;
    # the fresh doc survives
    assert kept_on == [2_000_000]


def test_embedding_precollapse_equivalent_on_flooded_batch(spark, embeddings):
    from geoscan_fraud_spark.operators.incremental import (
        embedding_dedup_against_index,
        embedding_index,
    )

    base = embeddings.limit(20)
    idx = embedding_index(base)
    v = base.first().embedding
    import numpy as np

    rng = np.random.RandomState(3)
    fresh = [float(x) for x in rng.randn(64)]
    flood = spark.createDataFrame(
        [(1_000_000 + i, list(v)) for i in range(200)] + [(2_000_000, fresh)],
        "vec_id long, embedding array<float>",
    )
    kept_on = sorted(
        r.vec_id
        for r in embedding_dedup_against_index(flood, idx, threshold=0.98).collect()
    )
    kept_off = sorted(
        r.vec_id
        for r in embedding_dedup_against_index(
            flood, idx, threshold=0.98, precollapse_exact=False
        ).collect()
    )
    assert kept_on == kept_off == [2_000_000]


# ---------------------------------------------------------------------------
# mergeable histograms
# ---------------------------------------------------------------------------


def test_histogram_profile_counts_and_merge(spark, sf_dir):
    from geoscan_fraud_spark.operators.profiling import (
        histogram_profile,
        histogram_quantile,
        merge_histogram_profiles,
    )

    d = load_fixture(spark, sf_dir, "documents")
    per_source = histogram_profile(d, "n_chars", ["source"], lo=1, hi=10_000, bins=64)
    merged = merge_histogram_profiles(per_source, None).collect()[0]
    direct = histogram_profile(d, "n_chars", None, lo=1, hi=10_000, bins=64).collect()[0]
    assert list(merged.hist) == list(direct.hist)
    assert sum(merged.hist) == d.count()

    # quantile estimate within one log-bin of the exact median
    import math

    exact = d.approxQuantile("n_chars", [0.5], 0.0)[0]
    est = histogram_quantile(list(merged.hist), 0.5, lo=1, hi=10_000)
    assert abs(math.log(est / exact)) <= math.log(10_000) / 64 + 1e-9


def test_histogram_under_overflow(spark):
    from geoscan_fraud_spark.operators.profiling import histogram_profile

    df = spark.createDataFrame(
        [(0.5,), (2.0,), (50.0,), (1e9,)], "v double"
    )
    h = list(
        histogram_profile(df, "v", None, lo=1, hi=100, bins=4).collect()[0].hist
    )
    assert h[0] == 1          # 0.5 underflows
    assert h[-1] == 1         # 1e9 overflows
    assert sum(h) == 4


def test_profile_drift_detects_vocab_shift(spark, docs):
    """Identical corpora report Jaccard ~1 / novelty ~0; a corpus with a
    replaced vocabulary half reports high novelty — all computed from
    the persisted sketches only."""
    from geoscan_fraud_spark.operators.profiling import profile_corpus, profile_drift

    base = profile_corpus(docs)
    same = profile_drift(base, profile_corpus(docs))
    r = same.first()
    assert r["docs_ratio"] == 1.0 and r["tokens_ratio"] == 1.0
    assert r["vocab_jaccard"] > 0.9
    assert r["vocab_novel_b"] < 0.1

    # shifted corpus: every token rewritten -> disjoint vocabulary
    shifted = docs.withColumn(
        "text",
        F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), r"\s+"), lambda t: F.concat(F.lit("zz"), t)
            ),
        ),
    )
    drift = profile_drift(base, profile_corpus(shifted)).first()
    assert drift["vocab_jaccard"] < 0.1
    assert drift["vocab_novel_b"] > 0.9
