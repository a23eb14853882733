"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The FINAL stdout line is
the compact headline JSON the driver parses:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
Bulky auxiliary dicts (per-entry Spark job counts, `queries_extra` timings)
are printed as separate earlier JSON lines so the final line always fits a
fixed-size tail capture of stdout.

The flagship number mirrors BASELINE.md's "< 5 s anomaly anti-join"; each
query is timed to FULL ROW MATERIALIZATION (the built-in noop sink, see
`_timed`) after a warm-up of the session.

`ENTRIES` is the one table of what the bench times: name ->
fn(spark, sf_dir) -> DataFrame for the `HEADLINE` names, in order, then
the `EXTRAS`. `tools/profile.py` times, profiles and dumps plans over it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from geoscan_fraud_spark import get_spark
import geoscan_fraud_spark.harness_ext  # noqa: F401
from geoscan_fraud_spark.harness import (
    QUERIES,
    a8_percentiles,
    j1_join_single_key,
    j2_join_two_keys,
    scratch_dir,
    u4_explode_tokens,
    u7_haversine,
)
from geoscan_fraud_spark.harness_geo import score_pipeline_dense
from geoscan_fraud_spark.harness_pipeline import (
    _with_neardups,
    ann_cosine_topk,
    lm_perplexity,
    stateful_novel_tiles,
    text_token_stats,
    watermarked_tile_windows,
)
from geoscan_fraud_spark.operators import dedup as dd

HEADLINE = [
    "flagship_event_anomalies",
    "j1_join_single_key",
    "j2_join_two_keys",
    "u3_tfidf_relational",
    "u1_cell_id",
    "u7_haversine",
    "a8_percentiles",
    "w1_topk_desc",
    "u4_explode_tokens",
    "ttl_window_filter",
    "geoscan_score_pipeline",
    "dedup_minhash",
    "dedup_simhash",
    "ann_cosine_topk",
    "text_token_stats",
    "text_winnow_fingerprint",
    "dedup_minhash_xxhash64",
    "dedup_simhash_h3",
]

# dedup_minhash / dedup_simhash are benched AS REGISTERED (md5
# signatures, hamming<=6) so the published numbers measure exactly the
# correctness-verified path. The production scale variants (xxhash64
# JVM-native long min-aggregates; the tighter 4-chunk hamming<=3 sweep)
# are additionally reported under their own names so the two are never
# conflated.


def bench_minhash_xxhash64(spark, sf_dir):
    docs = _with_neardups(spark, sf_dir)
    return dd.minhash_dedup(docs, threshold=0.5, n=3, num_hashes=48, bands=12)


def bench_minhash_unguarded(spark, sf_dir):
    """The path without the exact-dup pre-collapse — reported so the
    hot-bucket guard's insurance premium on this dup-FREE workload stays
    visible next to the guarded default."""
    docs = _with_neardups(spark, sf_dir)
    return dd.minhash_dedup(
        docs, threshold=0.5, n=3, num_hashes=48, bands=12,
        precollapse_exact=False,
    )


def bench_simhash_h3(spark, sf_dir):
    docs = _with_neardups(spark, sf_dir)
    return dd.simhash_pairs(docs, max_hamming=3)


# headline entries that are not in the `queries()` registry, plus
# `geoscan_score_pipeline`, whose registry entry runs a pinned
# mini-fixture; the bench times the sf-scaled composite instead
_NOT_AS_REGISTERED = {
    "j1_join_single_key": j1_join_single_key,
    "j2_join_two_keys": j2_join_two_keys,
    "u7_haversine": u7_haversine,
    "a8_percentiles": a8_percentiles,
    "u4_explode_tokens": u4_explode_tokens,
    "geoscan_score_pipeline": score_pipeline_dense,
    "ann_cosine_topk": ann_cosine_topk,
    "text_token_stats": text_token_stats,
    "dedup_minhash_xxhash64": bench_minhash_xxhash64,
    "dedup_simhash_h3": bench_simhash_h3,
}


def bench_decontaminate(spark, sf_dir):
    from geoscan_fraud_spark.operators.decontam import decontaminate
    from geoscan_fraud_spark.sources.io import load_fixture
    from pyspark.sql import functions as F

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    bench_docs = docs.filter(F.col("doc_id") % 20 == 0)
    return decontaminate(docs, bench_docs, n=6)


def bench_pack_documents(spark, sf_dir):
    from geoscan_fraud_spark.operators.packing import pack_documents
    from geoscan_fraud_spark.operators.text import token_stats
    from geoscan_fraud_spark.sources.io import load_fixture

    d = load_fixture(spark, sf_dir, "documents")
    return pack_documents(
        token_stats(d).select("doc_id", "n_tokens"), budget=256, n_shards=64
    )


def bench_sample_mixture(spark, sf_dir):
    from geoscan_fraud_spark.operators.packing import sample_mixture
    from geoscan_fraud_spark.sources.io import load_fixture

    d = load_fixture(spark, sf_dir, "documents")
    weights = {f"src{i}": 1.0 for i in range(20)}
    return sample_mixture(d, weights, total_n=2000)


def bench_ivf_quantized(spark, sf_dir):
    """int8-quantized IVF probe + exact re-rank (the memory-bound ANN
    shape) over the fixed sf0.01 quantizer — directly comparable with
    the registered float `ann_ivf_topk`."""
    from geoscan_fraud_spark.harness_pipeline import _ivf_centroids
    from geoscan_fraud_spark.operators.similarity import ivf_topk_quantized
    from geoscan_fraud_spark.sources.io import load_fixture
    from pyspark.sql import functions as F

    e = load_fixture(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50)
    cent = _ivf_centroids("/root/testdata/sf0.01")
    return ivf_topk_quantized(
        q, e, k=10, n_centroids=16, nprobe=4, centroids=cent
    )


def bench_profile_corpus(spark, sf_dir):
    from geoscan_fraud_spark.operators.profiling import profile_corpus
    from geoscan_fraud_spark.sources.io import load_fixture

    return profile_corpus(
        load_fixture(spark, sf_dir, "documents"), ["source"]
    )


def bench_text_repetition(spark, sf_dir):
    from geoscan_fraud_spark.operators.text import repetition_stats
    from geoscan_fraud_spark.sources.io import load_fixture

    return repetition_stats(load_fixture(spark, sf_dir, "documents"))


_ivf_disk_index: dict[str, str] = {}


def bench_ivf_index_query(spark, sf_dir):
    """Serving-path ANN: probe the PERSISTED partition-pruned int8
    index (`ivf_index_write` runs once per bench process — the
    amortized build; timed is the query: static-pruned scan of
    nprobe lists + quantized score + exact re-rank)."""
    from geoscan_fraud_spark.harness_pipeline import _ivf_centroids
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_query,
        ivf_index_write,
    )
    from geoscan_fraud_spark.sources.io import load_fixture
    from pyspark.sql import functions as F

    e = load_fixture(spark, sf_dir, "embeddings")
    if sf_dir not in _ivf_disk_index:
        path = scratch_dir("ivf_bench_") + "/index"
        ivf_index_write(
            e, path, centroids=_ivf_centroids("/root/testdata/sf0.01")
        )
        _ivf_disk_index[sf_dir] = path
    q = e.filter(F.col("vec_id") < 50)
    return ivf_index_query(q, _ivf_disk_index[sf_dir], k=10, nprobe=4)


_ivf_pq_index: dict[str, str] = {}


def bench_ivf_pq_index_query(spark, sf_dir):
    """Serving-path ANN through the PQ tier: identical probe set and
    exact re-rank as `ann_ivf_index_query`, but the shortlist scan
    reads the m-byte ADC codes + stored norm instead of the int8
    vectors (operators/pq.py — the compressed tier below int8). The
    delta between the two rows is the cost/benefit of ADC at this
    sf; at a scan-bound sf the PQ row wins on IO."""
    from geoscan_fraud_spark.harness_pipeline import _ivf_centroids
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_query,
        ivf_index_write,
    )
    from geoscan_fraud_spark.sources.io import load_fixture
    from pyspark.sql import functions as F

    e = load_fixture(spark, sf_dir, "embeddings")
    if sf_dir not in _ivf_pq_index:
        path = scratch_dir("ivf_pq_bench_") + "/index"
        ivf_index_write(
            e, path, centroids=_ivf_centroids("/root/testdata/sf0.01"),
            pq_m=8, pq_k=256, pq_residual=True,
        )
        _ivf_pq_index[sf_dir] = path
    q = e.filter(F.col("vec_id") < 50)
    return ivf_index_query(
        q, _ivf_pq_index[sf_dir], k=10, nprobe=4, shortlist="pq"
    )


_inc_index: dict[str, object] = {}


def bench_incremental_query(spark, sf_dir):
    """The RECURRING cost of incremental dedup: the signature index
    is built once per bench process and cached (in production it is
    a parquet store amortized over every batch); timed here is one
    batch deduped against it — the number a 100 TB operator actually
    pays per ingest cycle. The registered `dedup_incremental` entry
    (also in extras) times index build + query together."""
    from geoscan_fraud_spark.operators import incremental as inc
    from geoscan_fraud_spark.sources.io import load_fixture
    from pyspark.sql import functions as F

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    if sf_dir not in _inc_index:
        # bands= stores the pre-computed band hashes: the
        # recurring per-batch path explodes them instead of
        # re-hashing the whole index every cycle
        _inc_index[sf_dir] = inc.minhash_index(
            docs, num_hashes=48, sig_hash="md5", bands=12
        ).localCheckpoint(eager=True)
    words = F.split(F.col("text"), r"\s+")
    batch = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.filter(words, lambda w, i: (i % 13) != 5)
        ).alias("text"),
    )
    return inc.dedup_against_index(
        batch, _inc_index[sf_dir], num_hashes=48, bands=12,
        threshold=0.5, sig_hash="md5",
    )


def bench_incremental_gate_small_batch(spark, sf_dir):
    """The PRODUCTION shape of the ingest gate: a SMALL fixed batch
    (500 docs) against the sf-scaled signature store — where the
    batch-touched-bucket prune pays off (the registered
    `dedup_incremental` and `dedup_incremental_query` twins run
    batch ~ store, the shape that amortizes the prune's broadcast
    barrier least; `tools/profile.py scale` covers the store-size
    axis, this row tracks the recurring per-batch cost)."""
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators import incremental as inc
    from geoscan_fraud_spark.sources.io import load_fixture

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    key = "sb:" + sf_dir
    if key not in _inc_index:
        _inc_index[key] = inc.minhash_index(
            docs, num_hashes=48, sig_hash="md5", bands=12
        ).localCheckpoint(eager=True)
    words = F.split(F.col("text"), r"\s+")
    batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .limit(500)
        .select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.concat_ws(
                " ", F.filter(words, lambda w, i: (i % 13) != 5)
            ).alias("text"),
        )
    )
    return inc.dedup_against_index(
        batch, _inc_index[key], num_hashes=48, bands=12,
        threshold=0.5, sig_hash="md5",
    )


_bpe_merges: dict[str, list] = {}


def bench_bpe_segment(spark, sf_dir):
    """Times SEGMENTATION (the recurring production cost — map-only
    mapInPandas encode); the 20-merge training runs once per bench
    process and is cached, so the per-query min isolates the encoder."""
    from geoscan_fraud_spark.operators.bpe import bpe_segment, train_bpe, word_counts
    from geoscan_fraud_spark.sources.io import load_fixture

    docs = load_fixture(spark, sf_dir, "documents")
    if sf_dir not in _bpe_merges:
        _bpe_merges[sf_dir] = train_bpe(word_counts(docs), num_merges=20)
    return bpe_segment(docs, _bpe_merges[sf_dir])


def bench_lm_bigram(spark, sf_dir):
    """Interpolated bigram LM: fit on the corpus, score every doc
    (three broadcast joins, one per-doc agg)."""
    from geoscan_fraud_spark.operators.text import (
        bigram_perplexity_score,
        fit_bigram_lm,
    )
    from geoscan_fraud_spark.sources.io import load_fixture

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    bg, ug, oov = fit_bigram_lm(docs)
    return bigram_perplexity_score(docs, bg, ug, oov)


def bench_dsir(spark, sf_dir):
    """DSIR importance resampling: fit target+raw unigram LMs, score
    log importance ratios over the corpus (one broadcast join), draw
    k by log-space A-ES. Times the full fit+score+draw cycle."""
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators.dsir import dsir_sample
    from geoscan_fraud_spark.sources.io import load_fixture

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 17 == 0)
    return dsir_sample(docs, target, k=1000, length_normalize=True)


_prep_state: dict[str, object] = {}


def bench_prepared_ingest(spark, sf_dir):
    """Streaming end-to-end corpus preparation: a
    fixed availableNow cycle of `prepared_ingest_sink` — per-batch
    Gopher gate + offline-trained unigram-LM NLL bound + store-backed
    normalized near-dup — over the documents fixture split into two
    micro-batches. The source files and the LM fit are one-off per
    bench process (amortized in production); each timed invocation
    runs the full two-batch cycle against a FRESH store + checkpoint,
    so the number is the cold per-corpus streaming cost."""
    import shutil
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators.text import fit_unigram_lm
    from geoscan_fraud_spark.sources.io import load_fixture
    from geoscan_fraud_spark.streaming.scoring import prepared_ingest_sink

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    if "src" not in _prep_state:
        src = scratch_dir("prep_bench_src_")
        docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/half=0")
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/half=1")
        _prep_state["src"] = src
        _prep_state["schema"] = docs.schema
        lm, oov = fit_unigram_lm(docs)
        _prep_state["lm"] = lm.localCheckpoint(eager=True)
        _prep_state["oov"] = oov
    prev = _prep_state.pop("work", None)
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    work = scratch_dir("prep_bench_work_")
    _prep_state["work"] = work
    sink = prepared_ingest_sink(
        f"{work}/idx",
        f"{work}/out",
        num_hashes=48,
        bands=12,
        threshold=0.5,
        normalize_signatures=True,
        lm=_prep_state["lm"],
        oov_logp=_prep_state["oov"],
        max_nll=12.0,
    )
    q = (
        spark.readStream.schema(_prep_state["schema"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(_prep_state["src"]) + "/half=*")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return spark.read.parquet(f"{work}/out")


def bench_remove_spans(spark, sf_dir):
    """ExactSubstr repeated-span removal (Lee et al. 2021) over the
    documents table: gram-frequency count + marking join + per-doc
    native span merge. keep='first' is the paper's semantics."""
    from geoscan_fraud_spark.operators.spans import remove_repeated_spans
    from geoscan_fraud_spark.sources.io import load_fixture

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    return remove_repeated_spans(docs, min_len=8, keep="first")


def bench_token_shards(spark, sf_dir):
    """Deterministic token-balanced shard assignment: md5-keyed range
    shuffle + two-pass distributed prefix sum + floor-div labeling."""
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators.shards import assign_token_shards
    from geoscan_fraud_spark.sources.io import load_fixture

    docs = (
        load_fixture(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("n_tokens", F.size(F.split(F.col("text"), r"\s+")))
    )
    return assign_token_shards(docs, shard_tokens=20_000)


_span_store: dict[str, object] = {}


def bench_span_incremental(spark, sf_dir):
    """The RECURRING cost of incremental ExactSubstr: the gram-count
    store is built once per bench process (in production a persisted
    parquet store amortized over every ingest cycle); timed is one
    batch rewritten against it — window + store join + rebuild."""
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators.spans import (
        remove_spans_against_index,
        span_gram_index,
    )
    from geoscan_fraud_spark.sources.io import load_fixture

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    if sf_dir not in _span_store:
        _span_store[sf_dir] = span_gram_index(
            docs, min_len=8
        ).localCheckpoint(eager=True)
    words = F.split(F.col("text"), r"\s+")
    batch = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.filter(words, lambda w, i: (i % 17) != 3)
        ).alias("text"),
    )
    return remove_spans_against_index(batch, _span_store[sf_dir], min_len=8)


_bm25_queries = [
    ("q1", "spark join window"),
    ("q2", "hash merge batch"),
    ("q3", "vector stream scan query"),
    ("q4", "customer table value"),
    ("q5", "filter sort group order"),
]


def bench_bm25_search(spark, sf_dir):
    """One-shot relational BM25 top-k: exploded tokens semi-joined
    against the broadcast query vocabulary BEFORE the posting
    shuffle, lazy one-row (N, avgdl) broadcast."""
    from geoscan_fraud_spark.operators.retrieval import bm25_topk
    from geoscan_fraud_spark.sources.io import load_fixture

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    qs = spark.createDataFrame(_bm25_queries, "query_id string, query string")
    return bm25_topk(docs, qs, k=10)


_bm25_index_state: dict[str, str] = {}


def bench_bm25_index_query(spark, sf_dir):
    """The SERVING cost of sparse retrieval: the inverted index is
    built once per bench process (amortized in production); timed is
    the query path — driver-side bucket computation + a postings scan
    statically pruned to the query terms' bucket directories."""
    from geoscan_fraud_spark.operators.retrieval import (
        text_index_query,
        text_index_write,
    )
    from geoscan_fraud_spark.sources.io import load_fixture

    if sf_dir not in _bm25_index_state:
        path = scratch_dir("bm25_bench_idx_") + "/idx"
        docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
        text_index_write(docs, path, n_buckets=32)
        _bm25_index_state[sf_dir] = path
    return text_index_query(spark, _bm25_index_state[sf_dir], _bm25_queries, k=10)


def bench_hybrid_index_query(spark, sf_dir):
    """The full hybrid SERVING path: BM25 leg from the persisted
    term-bucket-pruned inverted index + dense leg from the persisted
    probe-pruned IVF index, RRF-fused — both indexes built once per
    bench process (amortized in production); timed is query+fusion.
    Queries are the first five documents' leading tokens (sparse)
    paired with their own embeddings (dense) over the fixtures'
    shared doc_id/vec_id space."""
    from geoscan_fraud_spark.harness_pipeline import _ivf_centroids
    from geoscan_fraud_spark.operators.retrieval import (
        hybrid_search,
        text_index_write,
    )
    from geoscan_fraud_spark.operators.similarity import ivf_index_write
    from geoscan_fraud_spark.sources.io import load_fixture
    from pyspark.sql import functions as F

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_fixture(spark, sf_dir, "embeddings")
    if sf_dir not in _bm25_index_state:
        path = scratch_dir("bm25_bench_idx_") + "/idx"
        text_index_write(docs, path, n_buckets=32)
        _bm25_index_state[sf_dir] = path
    if sf_dir not in _ivf_disk_index:
        path = scratch_dir("ivf_bench_") + "/index"
        ivf_index_write(
            emb, path, centroids=_ivf_centroids("/root/testdata/sf0.01")
        )
        _ivf_disk_index[sf_dir] = path
    q_rows = (
        docs.filter(F.col("doc_id") < 5)
        .select(
            F.col("doc_id").cast("string"),
            F.array_join(F.slice(F.split("text", r"\s+"), 1, 8), " "),
        )
        .collect()
    )
    queries = [(r[0], r[1]) for r in q_rows]
    query_emb = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    return hybrid_search(
        spark,
        _bm25_index_state[sf_dir],
        _ivf_disk_index[sf_dir],
        queries,
        query_emb,
        k=10,
    )


_tomb_state: dict[str, str] = {}


def bench_bm25_index_query_tombstoned(spark, sf_dir):
    """Merge-on-read overhead of the BM25 tombstone path: a SEPARATE
    index copy with ~10% of docs logically deleted, timed on the same
    query set as `bm25_index_query` — shows the broadcast anti-join cost
    pre-compaction is bounded."""
    from geoscan_fraud_spark.operators.retrieval import (
        text_index_query,
        text_index_write,
    )
    from geoscan_fraud_spark.sources.io import index_delete, load_fixture
    from pyspark.sql import functions as F

    key = "bm25:" + sf_dir
    if key not in _tomb_state:
        path = scratch_dir("bm25_tomb_idx_") + "/idx"
        docs = load_fixture(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        text_index_write(docs, path, n_buckets=32)
        index_delete(
            spark, path, docs.filter(F.col("doc_id") % 10 == 0).select(
                "doc_id"
            )
        )
        _tomb_state[key] = path
    return text_index_query(spark, _tomb_state[key], _bm25_queries, k=10)


def bench_ivf_index_query_tombstoned(spark, sf_dir):
    """Merge-on-read overhead of the IVF tombstone path: ~10% of
    vectors logically deleted on a separate index copy; timed is the
    same probe-pruned query as `ann_ivf_index_query` plus the
    read-side broadcast anti-join."""
    from geoscan_fraud_spark.harness_pipeline import _ivf_centroids
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_query,
        ivf_index_write,
    )
    from geoscan_fraud_spark.sources.io import index_delete, load_fixture
    from pyspark.sql import functions as F

    key = "ivf:" + sf_dir
    e = load_fixture(spark, sf_dir, "embeddings")
    if key not in _tomb_state:
        path = scratch_dir("ivf_tomb_") + "/index"
        ivf_index_write(
            e, path, centroids=_ivf_centroids("/root/testdata/sf0.01")
        )
        index_delete(
            spark, path, e.filter(F.col("vec_id") % 10 == 0).select(
                "vec_id"
            )
        )
        _tomb_state[key] = path
    q = e.filter(F.col("vec_id") < 50)
    return ivf_index_query(q, _tomb_state[key], k=10, nprobe=4)


def bench_html_extract(spark, sf_dir):
    """HTML -> text extraction: the documents fixture wrapped in
    deterministic markup (tags, entities, a script block per doc),
    then the full native regexp rule chain + token stats over the
    extracted text."""
    from pyspark.sql import functions as F

    from geoscan_fraud_spark.operators.html import extract_html_text
    from geoscan_fraud_spark.operators.text import token_stats
    from geoscan_fraud_spark.sources.io import load_fixture

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text")
    html = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>t</title></head><body>"
                  "<script>var x=1;</script><h1>Doc &amp; heading</h1><p>"),
            F.regexp_replace(F.col("text"), r"\. ", ".</p>\n<p>"),
            F.lit("</p><!-- footer --></body></html>"),
        ).alias("html"),
    )
    return token_stats(extract_html_text(html, "html"), text_col="text")

# Extras are timed like the headline but reported under `queries_extra`,
# so `value`/`best_serial_run` cover the headline set only.
EXTRAS = {
    "decontaminate": bench_decontaminate,
    "remove_repeated_spans": bench_remove_spans,
    "token_shards": bench_token_shards,
    "span_incremental_query": bench_span_incremental,
    "pack_documents": bench_pack_documents,
    "sample_mixture": bench_sample_mixture,
    "asof_join": QUERIES["asof_join"],
    "interval_join": QUERIES["interval_join"],
    "chunk_documents": QUERIES["chunk_documents"],
    "ann_ivf_quantized": bench_ivf_quantized,
    "ann_ivf_index_query": bench_ivf_index_query,
    # IVF-PQ: the ADC compressed tier below int8
    "ann_ivf_pq_index_query": bench_ivf_pq_index_query,
    "dedup_incremental": QUERIES["dedup_incremental"],
    "dedup_incremental_query": bench_incremental_query,
    # the production shape (small batch vs sf-scaled store)
    "dedup_incremental_gate_small_batch": bench_incremental_gate_small_batch,
    "weighted_sample": QUERIES["weighted_sample"],
    "salted_join": QUERIES["salted_join"],
    "profile_corpus": bench_profile_corpus,
    "dedup_minhash_unguarded": bench_minhash_unguarded,
    "text_repetition": bench_text_repetition,
    "semantic_dedup": QUERIES["semantic_dedup"],
    "lm_perplexity": lm_perplexity,
    "bpe_segment": bench_bpe_segment,
    "prepared_ingest_stream": bench_prepared_ingest,
    "dsir_sample": bench_dsir,
    "lm_bigram": bench_lm_bigram,
    # embedding-space decontamination: map-only corpus probe against
    # one broadcast benchmark row
    "semantic_decontam": QUERIES["semantic_decontam"],
    # sparse retrieval: one-shot BM25 and the persisted
    # partition-pruned inverted-index serving path
    "bm25_search": bench_bm25_search,
    "bm25_index_query": bench_bm25_index_query,
    # persisted hybrid sparse+dense serving path
    "hybrid_index_query": bench_hybrid_index_query,
    # append-lifecycle entry + merge-on-read tombstone overhead twins
    "bm25_incremental_query": QUERIES["bm25_incremental_query"],
    "bm25_index_query_tombstoned": bench_bm25_index_query_tombstoned,
    "ann_ivf_index_query_tombstoned": bench_ivf_index_query_tombstoned,
    # dense lifecycle: build + append + delete + compact + MVCC flip +
    # live AND stale-generation reads
    "ann_ivf_incremental_query": QUERIES["ann_ivf_incremental_query"],
    # HTML ingest stage (map-only regexp chain)
    "html_extract": bench_html_extract,
    # hybrid sparse+dense RRF fusion
    "rrf_fusion": QUERIES["rrf_fusion"],
    # PII scrub stage (map-only regexp_replace chain over the seeded
    # corpus)
    "pii_redact": QUERIES["pii_redact"],
    # the streaming serving pipeline under the hash gate (two
    # availableNow cycles: gate + store dedup + corpus append + two
    # text-index appends + serve)
    "prepared_stream_query": QUERIES["prepared_stream_query"],
    # not registered; two availableNow cycles of watermarked
    # sliding-window aggregation in append mode (event-time/late-data
    # semantics)
    "watermarked_tile_windows": watermarked_tile_windows,
    # not registered; applyInPandasWithState novelty detection with
    # checkpointed state across two availableNow cycles
    "stateful_novel_tiles": stateful_novel_tiles,
}

ENTRIES = {
    **{name: _NOT_AS_REGISTERED.get(name) or QUERIES[name] for name in HEADLINE},
    **EXTRAS,
}


def _max_job_id(spark) -> int:
    """The highest Spark job id in the status store (-1 before the first
    job). Job ids are global across threads, so the delta around a call
    also counts the micro-batch jobs streaming runs on the
    stream-execution thread, which a thread-local job group misses."""
    jsc = spark.sparkContext._jsc.sc()
    # drain the async listener bus so the store reflects every job
    # submitted so far (the caller is the only workload)
    jsc.listenerBus().waitUntilEmpty()
    jl = jsc.statusStore().jobsList(None)
    # jobsList is ordered by id descending; apply(0) is the max
    return jl.apply(0).jobId() if jl.size() > 0 else -1


def _timed(spark, sf_dir, fn) -> tuple[float, int]:
    """(seconds, Spark jobs) for one call of an entry, forced through the
    built-in NOOP SINK: full row materialization, no disk. Under
    `.count()` Catalyst column-prunes every expression the count doesn't
    need: map-only entries (u1_cell_id, html_extract, pii_redact,
    text_token_stats, ...) degenerate to bare parquet row counts, and the
    span entries' rebuild left-outer join is eliminated outright (unique
    build-side key, no right-side column referenced). A forcing
    sha2-projection micro-test took 0.14 s under count vs 0.9 s under
    noop."""
    before = _max_job_id(spark)
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = round(time.perf_counter() - t0, 3)
    return dt, _max_job_id(spark) - before


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    spark = get_spark(app_name="geoscan-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM + parquet footer caches with a trivial action
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    # Best-of-N per query: the machine is shared, and a single contaminated
    # run inflates every timing uniformly (up to ~3x a serial run has been
    # recorded). The min of N runs is the least-noise estimate of the
    # plan's cost; noise_ratio (max/min over per-query totals) is recorded
    # so a loaded-machine run is visible in the artifact itself.
    #
    # The FIRST serial pass is a discarded warm-up: it pays
    # janino/whole-stage-codegen compilation, JIT tiering, and
    # shuffle/broadcast infrastructure spin-up for every plan shape — it
    # has run ~1.6x the steady state (48.7 s vs 30.7 s) and was then the
    # whole of the reported noise_ratio. It still executes every query
    # (so per-query minima from the recorded passes are steady-state) but
    # is excluded from per_run_totals, minima, and noise_ratio.
    # Headline passes run CONSECUTIVELY: interleaving the extras — which
    # include a 10+ s streaming cycle with store writes — between
    # headline passes contaminated the next pass's cache/GC state and
    # kept per-run totals noisy even after the warm-up discard.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    per_run_totals: list[float] = []
    # External machine load has inflated a headline total ~12%
    # uniformly. Record the 1-minute loadavg at the start of every
    # recorded headline pass so a loaded-machine run is self-describing
    # in the artifact. The bench itself is idle between actions only
    # briefly, so loadavg >> the benched JVM's own footprint means
    # external contention.
    load_per_run: list[float] = []
    timings: dict[str, float] = {}
    extra_timings: dict[str, float] = {}
    # Each entry's Spark JOB count sits next to its seconds, so the
    # "job-floor dominated" argument for the lifecycle composites is a
    # recorded fact. Counts are taken from the LAST recorded pass (steady
    # state — per-process one-off builds have amortized by then).
    job_counts: dict[str, int] = {}
    sc = spark.sparkContext

    for r in range(runs + 1):
        warmup = r == 0
        if not warmup:
            load_per_run.append(round(os.getloadavg()[0], 2))
        run_total = 0.0
        for name in HEADLINE:
            dt, job_counts[name] = _timed(spark, sf_dir, ENTRIES[name])
            run_total += dt
            if not warmup and (name not in timings or dt < timings[name]):
                timings[name] = dt
        if not warmup:
            per_run_totals.append(round(run_total, 3))
    for r in range(runs + 1):
        warmup = r == 0
        for name, fn in EXTRAS.items():
            dt, job_counts[name] = _timed(spark, sf_dir, fn)
            if not warmup and (name not in extra_timings or dt < extra_timings[name]):
                extra_timings[name] = dt

    # `value` is the sum of per-query minima (a composite no single run
    # achieved); `best_serial_run` is the fastest complete serial pass —
    # the number directly comparable to a single-run bench.
    total = round(sum(timings.values()), 3)
    noise_ratio = (
        round(max(per_run_totals) / min(per_run_totals), 3)
        if min(per_run_totals) > 0
        else None
    )
    # annotate when external load likely contaminated the headline
    # segment: the benched JVM alone keeps short bursts of all cores
    # busy, but a SUSTAINED 1-min load above ~half the worker threads at
    # the START of passes (when the bench just idled through JSON/setup)
    # is someone else's work
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    load_note = None
    if load_per_run and min(load_per_run) > 0.5 * cpus:
        load_note = (
            f"sustained external load (min 1-min loadavg "
            f"{min(load_per_run)} on {cpus} benched cores) — headline "
            f"totals likely inflated; compare per-query minima, not sums"
        )
    # The consumer captures a fixed-size TAIL of stdout and parses the
    # LAST JSON line; a `jobs` dict inside that line once grew it past
    # the capture window and truncated away the headline. Emit the bulky
    # auxiliary dicts as their OWN earlier lines (still machine-readable,
    # each tagged with a `metric`), and keep the FINAL line a compact
    # headline that always fits the tail.
    print(
        json.dumps(
            {
                "metric": "headline_queries_extra",
                "queries_extra": extra_timings,
                "sf": float(sf),
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_jobs",
                "jobs": job_counts,
                "sf": float(sf),
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "runs": runs,
                "warmup_runs": 1,
                "noise_ratio": noise_ratio,
                "per_run_totals": per_run_totals,
                "best_serial_run": min(per_run_totals),
                "load_per_run": load_per_run,
                # echo the core count the session actually ran with, so a
                # scaling check can distinguish "harness ignored
                # $SPARK_GRAFT_CPUS" (a bug) from "entries are floor-bound
                # at this SF" (physics). ~60 bytes — the line stays far
                # under the tail-capture budget.
                "cpus": cpus,
                "default_parallelism": sc.defaultParallelism,
                "master": sc.master,
                **({"load_note": load_note} if load_note else {}),
            }
        )
    )


if __name__ == "__main__":
    main()
