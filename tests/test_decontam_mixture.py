"""Tests for train/test decontamination and domain-mixture sampling."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.decontam import (
    contamination_hits,
    decontaminate,
)
from geoscan_fraud_spark.operators.packing import sample_mixture
from geoscan_fraud_spark.sources.io import load_fixture


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),  # contains bench gram
        (2, "uno dos tres cuatro cinco seis siete"),  # clean
        (3, "alpha beta gamma delta different tail"),  # contains bench gram
        (4, "totally unrelated words here now ok"),  # clean
        (5, "one two three four nine ten eleven"),  # shares 4-gram w/ bench2
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def bench_set(spark):
    rows = [
        (101, "alpha beta gamma delta held out"),
        (102, "one two three four answer key"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_hits_counts_shared_grams(spark, corpus, bench_set):
    hits = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_hits(corpus, bench_set, n=4).collect()
    }
    # docs 1, 3, 5 share exactly one distinct benchmark 4-gram each
    assert hits == {1: 1, 3: 1, 5: 1}


def test_decontaminate_removes_flagged_keeps_clean(spark, corpus, bench_set):
    kept = {r["doc_id"] for r in decontaminate(corpus, bench_set, n=4).collect()}
    assert kept == {2, 4}
    # higher threshold keeps single-gram overlaps
    kept2 = {
        r["doc_id"]
        for r in decontaminate(corpus, bench_set, n=4, min_hits=2).collect()
    }
    assert kept2 == {1, 2, 3, 4, 5}


def test_decontaminate_matches_python_reference_on_fixture(spark, sf_dir):
    """Value-level oracle vs a direct python reimplementation over the
    documents fixture: benchmark = every 20th doc."""
    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    got = {r["doc_id"] for r in decontaminate(docs, bench, n=6).collect()}

    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]

    def grams(text, n=6):
        w = text.split()
        if len(w) < n:
            return {" ".join(w)}
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    bench_grams = set()
    for did, text in rows:
        if did % 20 == 0:
            bench_grams |= grams(text)
    expect = {did for did, text in rows if not (grams(text) & bench_grams)}
    assert got == expect


def test_decontaminate_is_map_only_on_corpus_side(spark, corpus, bench_set):
    """The corpus probe must be a broadcast semi/anti join — no sort-merge
    exchange on the big side."""
    plan = decontaminate(corpus, bench_set, n=4)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_sample_mixture_exact_quotas(spark, sf_dir):
    docs = load_fixture(spark, sf_dir, "documents")
    weights = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    out = sample_mixture(docs, weights, total_n=20)
    counts = Counter(r["source"] for r in out.select("source").collect())
    assert counts == {"src0": 10, "src1": 6, "src2": 4}
    # deterministic across partitionings
    a = {r["doc_id"] for r in out.select("doc_id").collect()}
    b = {
        r["doc_id"]
        for r in sample_mixture(docs.repartition(7), weights, 20)
        .select("doc_id")
        .collect()
    }
    assert a == b


def test_sample_mixture_largest_remainder_sums_to_total(spark, sf_dir):
    docs = load_fixture(spark, sf_dir, "documents")
    weights = {"src0": 1.0, "src1": 1.0, "src2": 1.0}  # 17/3 doesn't divide
    out = sample_mixture(docs, weights, total_n=17)
    assert out.count() == 17


def test_sample_mixture_quota_capped_by_source_size(spark, sf_dir):
    docs = load_fixture(spark, sf_dir, "documents")
    # src0 has only 25 docs at sf0.001; ask for far more
    out = sample_mixture(docs, {"src0": 1.0}, total_n=1000)
    assert out.count() == 25


def test_sample_mixture_rejects_bad_args(spark, sf_dir):
    docs = load_fixture(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        sample_mixture(docs, {"src0": 0.0}, 10)
    with pytest.raises(ValueError):
        sample_mixture(docs, {"src0": 1.0}, -1)


def test_assign_splits_deterministic_disjoint_exhaustive(spark, sf_dir):
    from geoscan_fraud_spark.operators.packing import assign_splits

    docs = load_fixture(spark, sf_dir, "documents")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = assign_splits(docs, w)
    rows = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    assert len(rows) == docs.count()  # every row labeled exactly once
    assert set(rows.values()) <= {"train", "val", "test"}
    # determinism across partitionings
    rows2 = {
        r["doc_id"]: r["split"]
        for r in assign_splits(docs.repartition(9), w)
        .select("doc_id", "split")
        .collect()
    }
    assert rows == rows2
    # roughly proportional (500 docs at sf0.001; generous tolerance)
    counts = Counter(rows.values())
    assert counts["train"] > 0.7 * len(rows)
    assert counts["val"] + counts["test"] > 0.05 * len(rows)
    # a different salt re-rolls at least some assignments
    rows3 = {
        r["doc_id"]: r["split"]
        for r in assign_splits(docs, w, salt="split-v2")
        .select("doc_id", "split")
        .collect()
    }
    assert rows != rows3


def test_assign_splits_is_map_only(spark, sf_dir):
    from geoscan_fraud_spark.operators.packing import assign_splits

    docs = load_fixture(spark, sf_dir, "documents")
    plan = (
        assign_splits(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_assign_splits_rejects_bad_weights(spark, sf_dir):
    import pytest as _pytest

    from geoscan_fraud_spark.operators.packing import assign_splits

    docs = load_fixture(spark, sf_dir, "documents")
    with _pytest.raises(ValueError):
        assign_splits(docs, {"train": 0.0})


def test_annotate_filter_reasons_first_failing_rule_wins(spark):
    from geoscan_fraud_spark.operators.text import annotate_filter_reasons

    df = spark.createDataFrame(
        [
            (1, "good long document text here ok fine yes"),
            (2, "short"),
            (3, "dup dup dup dup dup dup dup dup"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    tok = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(F.filter(tok, lambda t: F.length(t) > 0))
    rules = {
        "too_short": n >= 3,
        "too_repetitive": F.size(F.array_distinct(tok)) / F.greatest(n, F.lit(1)) > 0.5,
    }
    out = annotate_filter_reasons(df, rules)
    got = {r["doc_id"]: r["reject_reason"] for r in out.collect()}
    # doc 4 fails BOTH rules -> first rule in dict order wins
    assert got == {1: None, 2: "too_short", 3: "too_repetitive", 4: "too_short"}


def test_annotate_filter_reasons_is_map_only(spark, sf_dir):
    from geoscan_fraud_spark.operators.text import annotate_filter_reasons

    docs = load_fixture(spark, sf_dir, "documents")
    rules = {"short": F.length("text") > 10}
    plan = (
        annotate_filter_reasons(docs, rules)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_dedup_lines_c4_semantics(spark):
    from geoscan_fraud_spark.operators.dedup import dedup_lines

    docs = [
        (1, "alpha\nbeta\ngamma"),
        (2, "beta\ndelta"),        # beta claimed by doc 1
        (3, "gamma\nalpha"),       # both claimed by doc 1
        (4, "epsilon"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
    assert got == {1: "alpha\nbeta\ngamma", 2: "delta", 4: "epsilon"}
    # doc 3 lost every line -> absent by default, '' when kept
    got2 = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(df, keep_empty_docs=True).collect()
    }
    assert got2[3] == ""
    assert len(got2) == 4


def test_dedup_lines_matches_python_reference(spark, sf_dir):
    """Cross-check on fixture docs re-chunked into pseudo-lines of 5
    words, against a direct python implementation."""
    from geoscan_fraud_spark.operators.dedup import dedup_lines

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    chunked = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size(F.split(F.col("text"), " ")) - 1) / 5).cast("int"),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(F.split(F.col("text"), " "), i * 5 + 1, 5)
                ),
            ),
        ).alias("text"),
    )
    got = {r["doc_id"]: r["text"] for r in dedup_lines(chunked).collect()}

    rows = sorted(
        (r["doc_id"], r["text"]) for r in chunked.collect()
    )
    seen, expect = set(), {}
    for did, text in rows:
        out = []
        for line in text.split("\n"):
            if line not in seen:
                seen.add(line)
                out.append(line)
        if out:
            expect[did] = "\n".join(out)
    assert got == expect


def test_exact_dedup_agg_matches_window_form(spark, sf_dir):
    from geoscan_fraud_spark.operators.dedup import exact_dedup, exact_dedup_agg

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    both = docs.unionByName(copies)
    a = sorted(r["doc_id"] for r in exact_dedup(both, ["text"]).collect())
    b = sorted(r["doc_id"] for r in exact_dedup_agg(both, ["text"]).collect())
    assert a == b
    # partial (map-side) aggregation must be present in the plan — the
    # property the window form lacks
    plan = (
        exact_dedup_agg(both, ["text"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_min_by" in plan or "HashAggregate" in plan


def test_exact_dedup_agg_digest_not_forgeable(spark):
    """Separator/sentinel bytes inside column VALUES must not make
    distinct rows collide, and a NULL must differ from any real string."""
    from geoscan_fraud_spark.operators.dedup import exact_dedup_agg

    df = spark.createDataFrame(
        [
            (1, "x\x1fy", "z"),
            (2, "x", "y\x1fz"),  # concat-forged twin of row 1
            (3, None, "q"),
            (4, "\x00null", "q"),  # sentinel-forged twin of row 3
        ],
        "doc_id long, a string, b string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup_agg(df, ["a", "b"]).collect())
    assert kept == [1, 2, 3, 4]  # nothing merged


def test_sample_mixture_rejects_negative_weight(spark, sf_dir):
    from geoscan_fraud_spark.operators.packing import sample_mixture

    docs = load_fixture(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="non-negative"):
        sample_mixture(docs, {"src0": 1.5, "src1": -0.5}, 10)


def test_dedup_lines_literal_separator_with_regex_metachar(spark):
    from geoscan_fraud_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame(
        [(1, "alpha.beta"), (2, "beta.gamma")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["text"] for r in dedup_lines(df, sep=".").collect()}
    # '.' must split into ['alpha','beta'] / ['beta','gamma'], NOT between
    # every character; 'beta' is claimed by doc 1
    assert got == {1: "alpha.beta", 2: "gamma"}


def test_dedup_lines_paragraph_granularity(spark):
    """sep='\\n\\n' turns the C4 line dedup into RefinedWeb-style
    paragraph dedup: a paragraph repeated across documents survives only
    at its first (doc_id, position) occurrence; intra-doc paragraph
    order is preserved for the survivors."""
    from geoscan_fraud_spark.operators.dedup import dedup_lines

    boiler = "subscribe to our newsletter today"
    docs = [
        (1, f"unique one\n\n{boiler}\n\nunique two"),
        (2, f"{boiler}\n\nfresh content here"),
        (3, "all original\n\nnothing shared"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(df, sep="\n\n", keep_empty_docs=True).collect()
    }
    assert out[1] == f"unique one\n\n{boiler}\n\nunique two"
    assert out[2] == "fresh content here"
    assert out[3] == "all original\n\nnothing shared"


# ---------------------------------------------------------------------------
# semantic (embedding-space) decontamination
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sem_corpus(spark):
    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),      # exact copy of bench vector
        (2, [1.2, 2.4, 3.0, 4.0]),      # near-paraphrase of bench vector
        (3, [4.0, -3.0, 2.0, -1.0]),    # unrelated direction
        (4, [0.0, 0.0, 0.0, 0.0]),      # zero norm: no direction
    ]
    return spark.createDataFrame(rows, "doc_id long, emb array<double>")


def test_semantic_hits_flags_copy_and_paraphrase(spark, sem_corpus):
    from geoscan_fraud_spark.operators.decontam import (
        semantic_contamination_hits,
    )

    bench = spark.createDataFrame(
        [([1.0, 2.0, 3.0, 4.0],)], "emb array<double>"
    )
    hits = {
        r["doc_id"]: r["max_sim"]
        for r in semantic_contamination_hits(
            sem_corpus, bench, threshold=0.9
        ).collect()
    }
    assert set(hits) == {1, 2}
    assert hits[1] == pytest.approx(1.0)
    assert 0.9 < hits[2] < 1.0


def test_semantic_decontaminate_keeps_clean_and_zero_norm(spark, sem_corpus):
    from geoscan_fraud_spark.operators.decontam import semantic_decontaminate

    bench = spark.createDataFrame(
        [([1.0, 2.0, 3.0, 4.0],)], "emb array<double>"
    )
    kept = {
        r["doc_id"]
        for r in semantic_decontaminate(sem_corpus, bench, 0.9).collect()
    }
    assert kept == {3, 4}


def test_semantic_hits_empty_and_zero_norm_benchmark(spark, sem_corpus):
    from geoscan_fraud_spark.operators.decontam import (
        semantic_contamination_hits,
    )

    empty = spark.createDataFrame([], "emb array<double>")
    assert semantic_contamination_hits(sem_corpus, empty, 0.0).count() == 0
    # a zero-norm benchmark vector has no direction: it must flag nothing
    # (an unguarded 0/0 would produce NaN, which Spark orders ABOVE every
    # threshold — the guard is load-bearing, not cosmetic)
    zero = spark.createDataFrame([([0.0, 0.0, 0.0, 0.0],)], "emb array<double>")
    assert semantic_contamination_hits(sem_corpus, zero, 0.5).count() == 0


def test_semantic_hits_reserved_name_raises(spark, sem_corpus):
    from geoscan_fraud_spark.operators.decontam import (
        semantic_contamination_hits,
    )

    bench = spark.createDataFrame([([1.0, 0.0, 0.0, 0.0],)], "emb array<double>")
    bad = sem_corpus.withColumn("__cn", F.lit(1))
    with pytest.raises(ValueError, match="__cn"):
        semantic_contamination_hits(bad, bench, 0.9)


def test_semantic_hits_matches_numpy_reference(spark, sf_dir):
    """Value oracle vs numpy max-cosine over the embeddings fixture:
    benchmark = every 7th vector, threshold low enough that natural
    neighbours qualify too."""
    import numpy as np

    from geoscan_fraud_spark.operators.decontam import (
        semantic_contamination_hits,
    )

    e = load_fixture(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bench = e.filter(F.col("vec_id") % 7 == 0).select("embedding")
    got = {
        r["vec_id"]: r["max_sim"]
        for r in semantic_contamination_hits(
            e, bench, threshold=0.25, emb_col="embedding", id_col="vec_id"
        ).collect()
    }
    rows = e.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    bvecs = [v for k, v in vecs.items() if k % 7 == 0]
    want = {}
    for k, v in vecs.items():
        n = np.linalg.norm(v)
        if n == 0:
            continue
        ms = max(float(v @ b / (n * np.linalg.norm(b))) for b in bvecs)
        if ms >= 0.25:
            want[k] = ms
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_semantic_probe_corpus_never_shuffles(spark, sf_dir):
    """The benchmark folds into one broadcast row (its own tiny agg
    exchange); the corpus side is a map-only probe — the plan must show a
    broadcast nested-loop join and NO shuffle of corpus rows (the only
    Exchanges belong to the single-row benchmark fold)."""
    from geoscan_fraud_spark.operators.decontam import (
        semantic_contamination_hits,
    )

    e = load_fixture(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bench = e.filter(F.col("vec_id") % 7 == 0).select("embedding")
    plan = (
        semantic_contamination_hits(
            e, bench, 0.9, emb_col="embedding", id_col="vec_id"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # corpus-side rows never hit a shuffle: the only Exchanges are the
    # single-row benchmark fold (partial agg -> single partition) and the
    # broadcast of that one folded row
    for line in plan.splitlines():
        if (
            "Exchange" in line
            and "SinglePartition" not in line
            and "BroadcastExchange" not in line
        ):
            raise AssertionError(f"unexpected corpus-side shuffle: {line}")


def test_pipeline_semantic_decontam_stage(spark):
    """`prepare_training_corpus(benchmark_emb=..., emb_col=...)` drops a
    doc whose embedding sits next to a benchmark vector even though it
    shares no n-gram with anything, and reports the stage."""
    from geoscan_fraud_spark.operators.pipelines import (
        prepare_training_corpus,
    )

    rows = [
        (1, "a perfectly ordinary training document about cooking pasta", [1.0, 0.0, 0.0, 0.0]),
        (2, "completely different words regarding bicycle maintenance today", [0.99, 0.1, 0.0, 0.0]),  # paraphrase of bench by embedding
        (3, "yet another unrelated document mentioning garden flowers here", [0.0, 1.0, 0.0, 0.0]),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, emb array<double>")
    bench_emb = spark.createDataFrame([([1.0, 0.05, 0.0, 0.0],)], "emb array<double>")
    out = prepare_training_corpus(
        docs,
        quality_rules={"nonempty": F.length("text") > 0},
        benchmark_emb=bench_emb,
        emb_col="emb",
        semantic_threshold=0.98,
    )
    kept = {r["doc_id"] for r in out["corpus"].collect()}
    assert kept == {3}  # docs 1 and 2 are cosine-close to the bench vector
    rep = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    assert rep["after_semantic_decontam"] == 1
    assert rep["after_decontam"] == 3

    with pytest.raises(ValueError, match="together"):
        prepare_training_corpus(docs, benchmark_emb=bench_emb)
    with pytest.raises(ValueError, match="not a column"):
        prepare_training_corpus(docs, benchmark_emb=bench_emb, emb_col="nope")


def test_semantic_hits_fuzz_matches_numpy(spark):
    """Seeded fuzz: random corpora/benchmarks (mixed dims of work via
    one 8-dim job, zero vectors planted on both sides, thresholds swept)
    vs a numpy max-cosine reference."""
    import random as _random

    import numpy as np

    from geoscan_fraud_spark.operators.decontam import (
        semantic_contamination_hits,
    )

    rnd = _random.Random(123)
    dim = 8
    corpus_rows = [
        (i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(120)
    ] + [(900, [0.0] * dim)]
    bench_rows = [
        ([rnd.gauss(0, 1) for _ in range(dim)],) for _ in range(15)
    ] + [([0.0] * dim,)]
    # plant exact copies so every threshold has hits
    bench_rows += [(corpus_rows[3][1],), (corpus_rows[7][1],)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, emb array<double>")
    bench = spark.createDataFrame(bench_rows, "emb array<double>")

    vecs = {i: np.array(v) for i, v in corpus_rows}
    bvecs = [np.array(v[0]) for v in bench_rows if np.linalg.norm(v[0]) > 0]

    for threshold in (0.5, 0.9, 0.999):
        got = {
            r["doc_id"]: r["max_sim"]
            for r in semantic_contamination_hits(
                corpus, bench, threshold=threshold
            ).collect()
        }
        want = {}
        for i, v in vecs.items():
            n = np.linalg.norm(v)
            if n == 0:
                continue
            ms = max(float(v @ b / (n * np.linalg.norm(b))) for b in bvecs)
            if ms >= threshold:
                want[i] = ms
        assert set(got) == set(want), f"threshold {threshold}"
        for k in want:
            assert got[k] == pytest.approx(want[k], abs=1e-9)
