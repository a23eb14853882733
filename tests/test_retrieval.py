"""BM25 retrieval + persisted inverted index + RRF fusion
(`operators/retrieval.py`).

Value oracle: a direct Python BM25 implementation over the SAME
tokenization (lowercased whitespace split), checked term-by-term to
1e-9 before rounding. Plan assertions pin the 100 TB shape: broadcast
joins only (no SortMergeJoin of the corpus), and the persisted-index
query prunes its postings scan to the query terms' bucket directories.
"""

from __future__ import annotations

import math
import random
import re

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.retrieval import (
    bm25_topk,
    rrf_fuse,
    search_tokens,
    term_bucket_py,
    text_index_query,
    text_index_write,
)
from geoscan_fraud_spark.plans.audit import formatted_plan, plan_summary

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the lazy dog sleeps all day long"),
    (3, "quick quick quick fox"),
    (4, "a completely unrelated document about spark sql engines"),
    (5, "engines of the spark kind process data"),
    (6, ""),
    (7, "   "),
    (8, "FOX the Fox THE fox"),
]

QUERIES = [
    ("q1", "quick fox"),
    ("q2", "lazy dog engines"),
    ("q3", "fox fox"),  # repeated term: qtf=2 doubles the contribution
    ("q4", "zzz_absent_term"),
]


def _py_tokens(text: str) -> list[str]:
    return [t for t in text.strip().lower().split() if t]


def _py_bm25(docs, queries, k1=1.2, b=0.75):
    """{(qid, doc_id): score} for ALL matching docs (unrounded)."""
    toks = {d: _py_tokens(t) for d, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n if n else 0.0
    tf = {}
    for d, ts in toks.items():
        for t in ts:
            tf[(d, t)] = tf.get((d, t), 0) + 1
    df = {}
    for (d, t) in tf:
        df[t] = df.get(t, 0) + 1
    out = {}
    for qid, qtext in queries:
        qtf = {}
        for t in _py_tokens(qtext):
            qtf[t] = qtf.get(t, 0) + 1
        for d, ts in toks.items():
            s = 0.0
            for t, qc in qtf.items():
                if (d, t) not in tf:
                    continue
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                f = tf[(d, t)]
                dl = len(ts)
                s += qc * idf * f * (k1 + 1) / (f + k1 * (1 - b + b * dl / avgdl))
            if s > 0.0:
                out[(qid, d)] = s
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def queries_df(spark):
    return spark.createDataFrame(QUERIES, "query_id string, query string")


def test_bm25_matches_python_reference(spark, docs_df, queries_df):
    got = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_topk(docs_df, queries_df, k=100).collect()
    }
    want = _py_bm25(DOCS, QUERIES)
    assert set(got) == set(want)
    for key, s in want.items():
        assert got[key] == pytest.approx(round(s, 6), abs=1e-9), key


def test_bm25_rank_order_and_k(spark, docs_df, queries_df):
    rows = bm25_topk(docs_df, queries_df, k=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    # q4's term appears nowhere: no rows at all
    assert "q4" not in by_q
    for qid, rs in by_q.items():
        assert len(rs) <= 2
        rs.sort(key=lambda r: r["rank"])
        for i, r in enumerate(rs):
            assert r["rank"] == i + 1
        # rank follows (score desc, doc_id asc)
        keys = [(-r["score"], r["doc_id"]) for r in rs]
        assert keys == sorted(keys)
    # q3 ("fox fox") top hit is the fox-heaviest short doc
    assert by_q["q3"][0]["doc_id"] in (3, 8)


def test_bm25_repeated_query_term_doubles_contribution(spark, docs_df):
    q1 = spark.createDataFrame([("a", "fox")], "query_id string, query string")
    q2 = spark.createDataFrame([("a", "fox fox")], "query_id string, query string")
    s1 = {r["doc_id"]: r["score"] for r in bm25_topk(docs_df, q1, k=100).collect()}
    s2 = {r["doc_id"]: r["score"] for r in bm25_topk(docs_df, q2, k=100).collect()}
    assert set(s1) == set(s2)
    for d in s1:
        assert s2[d] == pytest.approx(2 * s1[d], abs=2e-6)


def test_bm25_plan_broadcast_only(spark, docs_df, queries_df):
    plan = plan_summary(bm25_topk(docs_df, queries_df, k=5))
    assert plan["sortmerge_joins"] == 0
    assert plan["broadcast_joins"] >= 3  # vocab semi-join, df join, qterms join


def test_search_tokens_matches_python(spark):
    rnd = random.Random(7)
    alphabet = "ab QUICK fox  .!? \t"
    texts = ["", " ", "\t"] + [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randint(1, 30)))
        for _ in range(100)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    got = {
        r["id"]: r["g"]
        for r in df.select("id", search_tokens(F.col("t")).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_tokens(t), repr(t)


# ---------------------------------------------------------------- index


@pytest.fixture(scope="module")
def index_path(spark, docs_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bm25_index") / "idx")
    text_index_write(docs_df, path, n_buckets=8)
    return path


def test_index_query_matches_inline_bm25(spark, docs_df, queries_df, index_path):
    inline = {
        (r["query_id"], r["doc_id"]): (r["score"], r["rank"])
        for r in bm25_topk(docs_df, queries_df, k=3).collect()
    }
    from_idx = {
        (r["query_id"], r["doc_id"]): (r["score"], r["rank"])
        for r in text_index_query(spark, index_path, QUERIES, k=3).collect()
    }
    assert inline == from_idx


def test_index_query_prunes_partitions(spark, index_path):
    q = text_index_query(spark, index_path, [("q", "fox engines")], k=5)
    plan = formatted_plan(q)
    pf = re.findall(r"PartitionFilters: \[[^\]]*bucket[^\]]*IN \(([^)]*)\)", plan)
    assert pf, plan  # both postings and terms scans carry the IN filter
    want = sorted({term_bucket_py(t, 8) for t in ("fox", "engines")})
    for group in pf:
        got = sorted(int(x) for x in group.split(","))
        assert got == want
    # the term filter is pushed inside the surviving buckets
    assert "PushedFilters" in plan and "term" in plan


def test_index_bucket_layout_portable(spark, index_path):
    # every persisted posting sits in the bucket the DRIVER-side hash
    # assigns its term — the pruning contract
    rows = spark.read.parquet(index_path + "/postings").select("term", "bucket").collect()
    assert rows
    for r in rows:
        assert r["bucket"] == term_bucket_py(r["term"], 8), r["term"]


def test_index_stats_and_df(spark, docs_df, index_path):
    import json

    with open(index_path + "/stats.json") as f:
        meta = json.load(f)
    assert meta["n_docs"] == len(DOCS)
    toks = [_py_tokens(t) for _, t in DOCS]
    assert meta["avgdl"] == pytest.approx(sum(map(len, toks)) / len(DOCS))
    dfreq = {
        r["term"]: r["df"]
        for r in spark.read.parquet(index_path + "/terms").collect()
    }
    want = {}
    for ts in toks:
        for t in set(ts):
            want[t] = want.get(t, 0) + 1
    assert dfreq == want


def test_index_query_no_terms_raises(spark, index_path):
    with pytest.raises(ValueError, match="no query terms"):
        text_index_query(spark, index_path, [("q", "   ")], k=5)


def test_index_append_parity_with_full_build(spark, docs_df, tmp_path):
    """Half-build + append must serve BIT-IDENTICAL BM25 results to a
    from-scratch index over the same corpus: integer n_docs/total_dl
    counters merge losslessly and the df log sums per term."""
    from geoscan_fraud_spark.operators.retrieval import text_index_append

    half_a = docs_df.filter(F.col("doc_id") <= 4)
    half_b = docs_df.filter(F.col("doc_id") > 4)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    text_index_write(half_a, inc, n_buckets=8)
    res = text_index_append(half_b, inc)
    assert res["rows"] == half_b.count()
    assert res["appends"] == 1 and res["n_docs"] == len(DOCS)
    text_index_write(docs_df, full, n_buckets=8)

    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, inc, QUERIES, k=5).collect()
    }
    exp = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, full, QUERIES, k=5).collect()
    }
    assert got == exp and len(got) > 0

    import json

    with open(inc + "/stats.json") as f:
        m_inc = json.load(f)
    with open(full + "/stats.json") as f:
        m_full = json.load(f)
    assert m_inc["n_docs"] == m_full["n_docs"]
    assert m_inc["total_dl"] == m_full["total_dl"]
    assert m_inc["avgdl"] == m_full["avgdl"]

    # the df relation really is a log: "fox" occurs in both halves ->
    # one row per write, and the merged sum equals the full-build df
    fox = spark.read.parquet(inc + "/terms").filter(F.col("term") == "fox")
    assert fox.count() == 2
    full_fox = (
        spark.read.parquet(full + "/terms").filter(F.col("term") == "fox")
    )
    assert fox.agg(F.sum("df")).collect()[0][0] == full_fox.collect()[0]["df"]


def test_index_compact_collapses_df_log_and_preserves_results(
    spark, docs_df, tmp_path
):
    """After compaction the df log is one row per term again, BM25
    results are unchanged, and a crashed-compaction leftover is refused."""
    import os

    from geoscan_fraud_spark.operators.retrieval import (
        text_index_append,
        text_index_compact,
    )

    path = str(tmp_path / "cpt")
    text_index_write(docs_df.filter(F.col("doc_id") <= 4), path, n_buckets=8)
    text_index_append(docs_df.filter(F.col("doc_id") > 4), path)

    before = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, path, QUERIES, k=5).collect()
    }
    fox_rows = (
        spark.read.parquet(path + "/terms")
        .filter(F.col("term") == "fox")
        .collect()
    )
    assert len(fox_rows) == 2  # the log really had two generations
    fox_sum = sum(r["df"] for r in fox_rows)

    text_index_compact(spark, path)
    # compaction publishes a NEW generation; the live terms dir resolves
    # through the flipped metadata pointer
    from geoscan_fraud_spark.sources.io import gen_dir, read_index_meta

    live_terms = gen_dir(path, "terms", read_index_meta(path + "/stats.json"))
    assert live_terms.endswith(".g1")  # the pointer really flipped
    assert os.path.isdir(path + "/terms")  # old snapshot intact pre-vacuum
    fox2 = (
        spark.read.parquet(live_terms).filter(F.col("term") == "fox")
    ).collect()
    assert len(fox2) == 1 and fox2[0]["df"] == fox_sum
    after = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, path, QUERIES, k=5).collect()
    }
    assert after == before and len(after) > 0

    os.makedirs(path + "/postings.__old__")
    with pytest.raises(ValueError, match="crashed mid-swap"):
        text_index_compact(spark, path)


def test_index_append_split_invariance(spark, tmp_path):
    """Property: HOWEVER a corpus is split into ingest batches — counts,
    sizes, order — the incrementally grown index serves bit-identical
    BM25 results and stats to the one-shot build. This is what the
    integer-counter stats merge and the sum-mergeable df log buy."""
    import random

    from geoscan_fraud_spark.operators.retrieval import text_index_append

    rnd = random.Random(99)
    words = ["fox", "dog", "spark", "alpha", "beta", "gamma", "data", ""]
    docs = [
        (i, " ".join(rnd.choice(words) for _ in range(rnd.randint(0, 7))))
        for i in range(30)
    ]
    schema = "doc_id long, text string"
    all_df = spark.createDataFrame(docs, schema)
    queries = [("q1", "fox data"), ("q2", "spark spark gamma")]

    full = str(tmp_path / "full")
    text_index_write(all_df, full, n_buckets=8)
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, full, queries, k=10).collect()
    }
    with open(full + "/stats.json") as f:
        import json

        ref_stats = json.load(f)

    for n_batches in (2, 3, 5):
        shuffled = docs[:]
        rnd.shuffle(shuffled)
        cuts = sorted(rnd.sample(range(1, len(docs)), n_batches - 1))
        parts = [
            shuffled[a:b]
            for a, b in zip([0] + cuts, cuts + [len(docs)])
        ]
        path = str(tmp_path / f"inc_{n_batches}")
        text_index_write(spark.createDataFrame(parts[0], schema), path, n_buckets=8)
        for part in parts[1:]:
            text_index_append(spark.createDataFrame(part, schema), path)
        got = {
            (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
            for r in text_index_query(spark, path, queries, k=10).collect()
        }
        assert got == want and len(got) > 0, n_batches
        with open(path + "/stats.json") as f:
            import json

            s = json.load(f)
        assert (s["n_docs"], s["total_dl"], s["avgdl"]) == (
            ref_stats["n_docs"],
            ref_stats["total_dl"],
            ref_stats["avgdl"],
        ), n_batches


def test_text_index_expire_parity_with_fresh_build(spark, docs_df, tmp_path):
    """Retention: expiring a generation leaves an index bit-identical —
    results AND stats — to one never containing that generation; build
    rows never expire; legacy indexes are refused."""
    import json

    from geoscan_fraud_spark.operators.retrieval import text_index_append
    from geoscan_fraud_spark.sources.io import gen_dir, index_expire

    seed = docs_df.filter(F.col("doc_id") <= 3)
    gen1 = docs_df.filter((F.col("doc_id") > 3) & (F.col("doc_id") <= 5))
    gen2 = docs_df.filter(F.col("doc_id") > 5)

    path = str(tmp_path / "exp")
    text_index_write(seed, path, n_buckets=8)
    text_index_append(gen1, path, src_batch=1)
    text_index_append(gen2, path, src_batch=2)
    index_expire(spark, path, min_src_batch=2)

    fresh = str(tmp_path / "fresh")
    text_index_write(seed.unionByName(gen2), fresh, n_buckets=8)

    queries = [("q1", "quick fox"), ("q2", "lazy dog engines spark")]
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, path, queries, k=8).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, fresh, queries, k=8).collect()
    }
    assert got == want and len(got) > 0

    with open(path + "/stats.json") as f:
        lived = json.load(f)
    with open(fresh + "/stats.json") as f:
        ref = json.load(f)
    assert (lived["n_docs"], lived["total_dl"], lived["avgdl"]) == (
        ref["n_docs"],
        ref["total_dl"],
        ref["avgdl"],
    )
    # build generation survived an aggressive cutoff (live postings
    # resolve through the flipped pointer)
    gens = {
        r["src_batch"]
        for r in spark.read.parquet(gen_dir(path, "postings", lived))
        .select("src_batch")
        .distinct()
        .collect()
    }
    assert gens == {-1, 2}

    # legacy format-1 index: refused with a rebuild hint
    with open(path + "/stats.json") as f:
        meta = json.load(f)
    meta["format"] = 1
    with open(path + "/stats.json", "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="format-2"):
        index_expire(spark, path, min_src_batch=3)


def test_text_index_delete_lucene_semantics(spark, docs_df, tmp_path):
    """Deleted docs stop being returned immediately while OTHER docs'
    scores keep the pre-delete stats (Lucene delete-then-merge); after
    compaction the index is bit-identical to one built without the doc."""
    import json

    from geoscan_fraud_spark.operators.retrieval import text_index_compact
    from geoscan_fraud_spark.sources.io import gen_dir, index_delete

    path = str(tmp_path / "del")
    text_index_write(docs_df, path, n_buckets=8)
    queries = [("q1", "quick fox"), ("q2", "lazy dog engines")]

    before = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in text_index_query(spark, path, queries, k=8).collect()
    }
    victim = 3  # "quick quick quick fox"
    index_delete(spark, path, [victim])

    mid = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in text_index_query(spark, path, queries, k=8).collect()
    }
    assert all(d != victim for _, d in mid)
    # survivors keep their PRE-delete scores (stale stats by design)
    for key, score in mid.items():
        assert score == before[key]

    text_index_compact(spark, path)
    # physically gone from the LIVE generation + stats corrected
    with open(path + "/stats.json") as f:
        meta = json.load(f)
    assert (
        spark.read.parquet(gen_dir(path, "postings", meta))
        .filter(F.col("doc_id") == victim)
        .count()
        == 0
    )
    assert meta["n_docs"] == len(DOCS) - 1
    victim_dl = len(_py_tokens(dict(DOCS)[victim]))
    toks = [_py_tokens(t) for _, t in DOCS]
    assert meta["total_dl"] == sum(map(len, toks)) - victim_dl

    # parity oracle: identical to an index never containing the doc
    fresh = str(tmp_path / "fresh")
    text_index_write(
        docs_df.filter(F.col("doc_id") != victim), fresh, n_buckets=8
    )
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, path, queries, k=8).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in text_index_query(spark, fresh, queries, k=8).collect()
    }
    assert got == want and len(got) > 0


def test_index_append_legacy_stats_upgrade(spark, docs_df, tmp_path):
    """An index persisted before the total_dl counter existed must still
    accept appends: avgdl * n_docs reconstructs the integer exactly."""
    import json

    from geoscan_fraud_spark.operators.retrieval import text_index_append

    path = str(tmp_path / "legacy")
    text_index_write(docs_df.filter(F.col("doc_id") <= 4), path, n_buckets=8)
    with open(path + "/stats.json") as f:
        meta = json.load(f)
    legacy_total = meta.pop("total_dl")
    with open(path + "/stats.json", "w") as f:
        json.dump(meta, f)

    text_index_append(docs_df.filter(F.col("doc_id") > 4), path)
    with open(path + "/stats.json") as f:
        upgraded = json.load(f)
    toks = [_py_tokens(t) for _, t in DOCS]
    assert upgraded["total_dl"] == sum(map(len, toks))
    assert legacy_total + sum(len(_py_tokens(t)) for d, t in DOCS if d > 4) == upgraded["total_dl"]


# ---------------------------------------------------------------- fusion


def test_rrf_fuse_hand_computed(spark):
    a = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)], "query_id string, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [("q", 3, 1), ("q", 1, 2), ("q", 9, 3)], "query_id string, doc_id long, rank int"
    )
    got = {
        r["doc_id"]: (r["rrf_score"], r["rank"])
        for r in rrf_fuse([a, b], k=10, rrf_k=60).collect()
    }
    want_scores = {
        1: 1 / 61 + 1 / 62,
        2: 1 / 62,
        3: 1 / 63 + 1 / 61,
        9: 1 / 63,
    }
    order = sorted(want_scores, key=lambda d: (-round(want_scores[d], 6), d))
    for i, d in enumerate(order):
        assert got[d] == (pytest.approx(round(want_scores[d], 6), abs=1e-9), i + 1)


def test_rrf_empty_list_raises(spark):
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([], k=5)


def test_hybrid_sparse_dense_fusion(spark, docs_df, queries_df):
    """End-to-end hybrid: BM25 ranks fused with a dense ranking (here a
    synthetic embedding ranking) must surface a doc that each modality
    alone under-ranks."""
    from geoscan_fraud_spark.operators.similarity import brute_force_topk

    # embeddings: doc 5 is the dense neighbor of the query vector even
    # though lexically q2 favors docs 1/2
    emb = spark.createDataFrame(
        [(d, [float(d == 5), float(d % 3), 1.0]) for d, _ in DOCS],
        "vec_id long, embedding array<double>",
    )
    qv = spark.createDataFrame(
        [(100, [1.0, 0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    dense = brute_force_topk(qv, emb, k=4).select(
        F.lit("q2").alias("query_id"), F.col("vec_id").alias("doc_id"), "rank"
    )
    sparse = bm25_topk(docs_df, queries_df.filter(F.col("query_id") == "q2"), k=4)
    fused = rrf_fuse([sparse.select("query_id", "doc_id", "rank"), dense], k=4)
    rows = {r["doc_id"]: r["rank"] for r in fused.collect()}
    assert 5 in rows  # dense-only doc survives fusion
    assert set(rows) >= {5, 2}  # and the lexical top hit does too
