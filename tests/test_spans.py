"""Repeated-span removal (ExactSubstr, Lee et al. 2021) and CCNet
perplexity buckets — both against independent Python value oracles."""

from __future__ import annotations

import random
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.spans import (
    remove_repeated_spans,
    repeated_gram_starts,
)
from geoscan_fraud_spark.operators.text import (
    fit_unigram_lm,
    perplexity_buckets,
    perplexity_score,
)
from geoscan_fraud_spark.plans.audit import formatted_plan, plan_summary


def py_remove(docs, L, min_count, keep):
    """Brute-force reference: enumerate every L-gram, count, mark, merge."""
    toks = {i: [t for t in re.split(r"\s+", txt) if t] for i, txt in docs}
    occ = []
    for i in sorted(toks):
        ts = toks[i]
        for p in range(0, len(ts) - L + 1):
            occ.append((i, p, tuple(ts[p : p + L])))
    cnt = Counter(g for _, _, g in occ)
    first = {}
    for i, p, g in occ:  # occ is (id, pos)-ordered by construction
        if g not in first:
            first[g] = (i, p)
    marked = defaultdict(set)
    for i, p, g in occ:
        if cnt[g] > min_count and not (keep == "first" and first[g] == (i, p)):
            marked[i].update(range(p, p + L))
    out = {}
    for i, ts in toks.items():
        kept = [t for j, t in enumerate(ts) if j not in marked[i]]
        out[i] = (" ".join(kept), len(ts), len(ts) - len(kept))
    return out


def _corpus(seed, n_docs=10, vocab_size=12, share_every=2, shared_len=12):
    rng = random.Random(seed)
    vocab = [f"w{k}" for k in range(vocab_size)]
    shared = " ".join(rng.choice(vocab) for _ in range(shared_len))
    docs = []
    for i in range(n_docs):
        pre = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 9)))
        post = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 9)))
        body = (
            shared
            if i % share_every == 0
            else " ".join(rng.choice(vocab) for _ in range(10))
        )
        docs.append((i, " ".join(x for x in [pre, body, post] if x)))
    docs.append((100, "short doc"))  # shorter than min_len: zero grams
    docs.append((101, docs[0][1]))  # verbatim full duplicate
    return docs


def _run(spark, docs, **kw):
    df = spark.createDataFrame(docs, "doc_id int, text string")
    return {
        r["doc_id"]: (r["text"], r["n_tokens"], r["removed_tokens"])
        for r in remove_repeated_spans(df, **kw).collect()
    }


@pytest.mark.parametrize("keep", ["none", "first"])
def test_remove_repeated_spans_matches_bruteforce(spark, keep):
    docs = _corpus(7)
    got = _run(spark, docs, min_len=5, keep=keep)
    exp = py_remove(docs, 5, 1, keep)
    assert got == exp
    # something was actually removed (the fixture plants cross-doc repeats)
    assert sum(v[2] for v in got.values()) > 0


def test_keep_first_preserves_corpus_first_occurrence(spark):
    docs = _corpus(11)
    got = _run(spark, docs, min_len=5, keep="first")
    # doc 0 holds the first occurrence of the shared paragraph AND is
    # verbatim-duplicated as doc 101: doc 0 survives untouched, 101 empties
    assert got[0][2] == 0
    assert got[101][0] == ""
    assert got[101][2] == got[101][1]


def test_keep_none_drops_all_occurrences(spark):
    docs = [
        (1, "a b c d e f g h"),
        (2, "x a b c d e f y"),  # shares the 6-gram 'a b c d e f'
        (3, "p q r s t u v w"),  # unique
    ]
    got = _run(spark, docs, min_len=6, keep="none")
    exp = py_remove(docs, 6, 1, "none")
    assert got == exp
    assert got[1][2] > 0 and got[2][2] > 0
    assert got[3] == ("p q r s t u v w", 8, 0)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_remove_repeated_spans_fuzz(spark, seed):
    """Seeded random corpora over a tiny vocab (forces incidental repeats
    and overlapping spans) must match the brute-force reference exactly."""
    rng = random.Random(seed)
    docs = [
        (
            i,
            " ".join(
                rng.choice(["a", "b", "c", "d"])
                for _ in range(rng.randint(0, 30))
            ),
        )
        for i in range(25)
    ]
    for keep in ("none", "first"):
        assert _run(spark, docs, min_len=4, keep=keep) == py_remove(
            docs, 4, 1, keep
        )


def test_min_count_threshold(spark):
    docs = _corpus(13, n_docs=9, share_every=3)  # shared appears in docs 0,3,6 (+101 copy of 0)
    # threshold above the occurrence count -> nothing removed
    got = _run(spark, docs, min_len=5, min_count=50, keep="none")
    assert all(v[2] == 0 for v in got.values())
    exp = py_remove(docs, 5, 3, "none")
    assert _run(spark, docs, min_len=5, min_count=3, keep="none") == exp


def test_repeated_gram_starts_validates_keep():
    with pytest.raises(ValueError, match="keep"):
        repeated_gram_starts(None, keep="both")


def test_spans_plan_shape(spark, sf_dir):
    """Native end-to-end: no Python eval, no cartesian/nested-loop join."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = remove_repeated_spans(docs, min_len=8, keep="first")
    s = plan_summary(out)
    assert s["python_eval"] == 0
    plan = formatted_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_perplexity_buckets_exact_matches_numpy(spark):
    import numpy as np

    rng = random.Random(3)
    rows = [(i, "g%d" % (i % 3), float(rng.uniform(1, 100))) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id int, lang string, ppl double")
    got = {
        (r["doc_id"]): r["ppl_bucket"]
        for r in perplexity_buckets(df, by="lang", exact=True).collect()
    }
    by_lang = defaultdict(list)
    for i, g, p in rows:
        by_lang[g].append(p)
    for i, g, p in rows:
        lo, hi = np.percentile(by_lang[g], [100 / 3.0, 200 / 3.0])
        exp = "head" if p <= lo else ("middle" if p <= hi else "tail")
        assert got[i] == exp, (i, g, p, lo, hi, got[i], exp)


def test_perplexity_buckets_global_and_null(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, None)],
        "doc_id int, ppl double",
    )
    got = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(df, exact=True).collect()
    }
    assert got == {1: "head", 2: "middle", 3: "tail", 4: None}


def test_perplexity_buckets_approx_close_to_exact(spark):
    rng = random.Random(5)
    rows = [(i, float(rng.gauss(50, 10))) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id int, ppl double")
    exact = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(df, exact=True).collect()
    }
    approx = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(df, exact=False).collect()
    }
    agree = sum(1 for k in exact if exact[k] == approx[k])
    assert agree / len(exact) > 0.98


def test_perplexity_buckets_broadcast_plan(spark, sf_dir):
    """The boundary join must broadcast — the corpus side never shuffles
    for the labeling."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm, oov = fit_unigram_lm(docs)
    scored = perplexity_score(docs, lm, oov)
    out = perplexity_buckets(scored)
    plan = formatted_plan(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_perplexity_buckets_validates_labels():
    with pytest.raises(ValueError, match="labels"):
        perplexity_buckets(None, cuts=(0.5,), labels=("a", "b", "c"))


def test_spans_flood_no_quadratic_stage(spark):
    """Unlike LSH near-dup, span removal has NO pairwise candidate stage:
    a 400x-duplicated document costs O(copies * grams) marked rows, not
    O(copies^2) pairs. The flood must stay linear AND correct: with
    keep='first' exactly one copy survives intact, every other copy
    empties; unique docs are untouched."""
    boiler = " ".join(f"b{k}" for k in range(20))
    docs = [(j, boiler) for j in range(400)]
    docs += [(1000 + j, " ".join(f"u{j}_{k}" for k in range(20))) for j in range(5)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    from geoscan_fraud_spark.operators.spans import repeated_gram_starts

    # linear marking: every copy contributes exactly its gram count
    n_marked = repeated_gram_starts(df, min_len=8, keep="first").count()
    grams_per_copy = 20 - 8 + 1
    assert n_marked == (400 - 1) * grams_per_copy  # first copy exempt
    out = {
        r["doc_id"]: (r["text"], r["removed_tokens"])
        for r in remove_repeated_spans(df, min_len=8, keep="first").collect()
    }
    assert out[0] == (boiler, 0)
    assert all(out[j] == ("", 20) for j in range(1, 400))
    assert all(out[1000 + j][1] == 0 for j in range(5))


def test_merge_start_spans_property(spark):
    """The native interval-merge fold == a Python reference over 300
    random start lists (duplicates, bursts, gaps) evaluated in ONE job."""
    from geoscan_fraud_spark.operators.spans import merge_start_spans

    rng = random.Random(17)
    rows = []
    for i in range(300):
        n = rng.randint(0, 25)
        starts = [rng.randint(0, 60) for _ in range(n)]
        rows.append((i, starts))
    span_len = 5

    def py_merge(starts):
        out = []
        for x in sorted(starts):
            if out and x <= out[-1][1]:
                out[-1] = (out[-1][0], x + span_len)
            else:
                out.append((x, x + span_len))
        return [{"s": s, "e": e} for s, e in out]

    df = spark.createDataFrame(rows, "row_id int, starts array<int>")
    got = {
        r["row_id"]: [iv.asDict() for iv in r["m"]]
        for r in df.select(
            "row_id", merge_start_spans(F.col("starts"), span_len).alias("m")
        ).collect()
    }
    exp = {i: py_merge(s) for i, s in rows}
    assert got == exp


def test_incremental_spans_equal_one_shot(spark):
    """Batch-by-batch removal against the accumulating gram store must
    equal the one-shot remove_repeated_spans(keep='first') over the full
    corpus EXACTLY (min_count=1, ids arriving in increasing order)."""
    from geoscan_fraud_spark.operators.spans import (
        merge_span_index,
        remove_spans_against_index,
        span_gram_index,
    )

    docs = _corpus(19, n_docs=12)  # ids 0..11 + 100, 101
    docs = sorted(docs)
    full = spark.createDataFrame(docs, "doc_id int, text string")
    one_shot = {
        r["doc_id"]: (r["text"], r["removed_tokens"])
        for r in remove_repeated_spans(full, min_len=5, keep="first").collect()
    }

    cut = len(docs) // 2
    batches = [docs[:cut], docs[cut:]]
    store = spark.createDataFrame([], "gh long, cnt bigint")
    got = {}
    for b in batches:
        bdf = spark.createDataFrame(b, "doc_id int, text string")
        out = remove_spans_against_index(bdf, store, min_len=5).collect()
        got.update(
            {r["doc_id"]: (r["text"], r["removed_tokens"]) for r in out}
        )
        store = merge_span_index(
            store.unionByName(span_gram_index(bdf, min_len=5))
        ).localCheckpoint(eager=True)
    assert got == one_shot
    assert sum(v[1] for v in got.values()) > 0


def test_pipeline_span_stage(spark):
    """span_min_len composes into prepare_training_corpus: a boilerplate
    paragraph shared by otherwise-distinct docs (below the near-dup
    threshold) is excised from all but its first occurrence; a doc that
    was nothing but the boilerplate drops, and the report gains the
    after_spans stage."""
    from geoscan_fraud_spark.operators.pipelines import (
        prepare_training_corpus,
    )

    rng = random.Random(31)
    vocab = [f"w{k}" for k in range(200)]
    boiler = " ".join(rng.choice(vocab) for _ in range(12))
    docs = []
    for i in range(8):
        body = " ".join(rng.choice(vocab) for _ in range(40))
        docs.append((i, f"{body} {boiler}"))
    docs.append((50, boiler))  # boilerplate-only page
    df = spark.createDataFrame(docs, "doc_id int, text string")

    out = prepare_training_corpus(df, span_min_len=6)
    corpus = {r["doc_id"]: r["text"] for r in out["corpus"].collect()}
    assert 50 not in corpus  # emptied by the span pass (boiler's first
    # occurrence is in doc 0, which keeps it)
    assert boiler in corpus[0]
    for i in range(1, 8):
        assert boiler not in corpus[i]
        assert len(corpus[i].split()) == 40
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    assert report["after_spans"] == 8
    assert report["after_decontam"] == 9  # counted before the span pass

    # without the stage nothing is rewritten and no after_spans row exists
    base = prepare_training_corpus(df)
    assert boiler in {
        r["doc_id"]: r["text"] for r in base["corpus"].collect()
    }[3]
    assert "after_spans" not in {
        r["stage"] for r in base["report"].collect()
    }


def test_perplexity_buckets_null_group_gets_own_cuts(spark):
    """Review fix: NULL `by` keys must match their own bounds row via a
    null-safe join — not fall through to 'tail' unconditionally."""
    rows = [
        (1, "en", 1.0), (2, "en", 2.0), (3, "en", 3.0),
        (4, None, 1.0), (5, None, 2.0), (6, None, 30.0),
    ]
    df = spark.createDataFrame(rows, "doc_id int, lang string, ppl double")
    got = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(df, by="lang", exact=True).collect()
    }
    # the NULL group has its own terciles: 1.0 head, 2.0 middle, 30.0 tail
    assert got[4] == "head" and got[5] == "middle" and got[6] == "tail"
    assert got[1] == "head" and got[3] == "tail"


def test_perplexity_buckets_reserved_columns(spark):
    df = spark.createDataFrame([(1, 1.0, 2.0)], "doc_id int, ppl double, __cuts double")
    with pytest.raises(ValueError, match="__cuts"):
        perplexity_buckets(df, exact=True)


def test_pipeline_span_stage_preserves_untouched_bytes(spark):
    """Review fix: docs without any removed span keep their ORIGINAL
    text byte-for-byte (newlines included) — only changed docs are
    rewritten with single-space joins."""
    from geoscan_fraud_spark.operators.pipelines import prepare_training_corpus

    boiler = "x1 x2 x3 x4 x5 x6"
    pristine = "first paragraph here now\n\nsecond paragraph stays intact"
    docs = [
        (1, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (2, f"one two three four five six {boiler}"),
        (3, pristine),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = prepare_training_corpus(df, span_min_len=6)
    corpus = {r["doc_id"]: r["text"] for r in out["corpus"].collect()}
    assert corpus[3] == pristine  # untouched: original bytes, newlines intact
    assert boiler in corpus[1] and boiler not in corpus[2]
