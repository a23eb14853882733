"""bench.py's one entry table and tools/profile.py over it."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]

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

EXTRAS = [
    "decontaminate", "remove_repeated_spans", "token_shards",
    "span_incremental_query", "pack_documents", "sample_mixture",
    "asof_join", "interval_join", "chunk_documents", "ann_ivf_quantized",
    "ann_ivf_index_query", "ann_ivf_pq_index_query", "dedup_incremental",
    "dedup_incremental_query", "dedup_incremental_gate_small_batch",
    "weighted_sample", "salted_join", "profile_corpus",
    "dedup_minhash_unguarded", "text_repetition", "semantic_dedup",
    "semantic_dedup_blas", "lm_perplexity", "bpe_segment",
    "prepared_ingest_stream", "dsir_sample", "lm_bigram",
    "semantic_decontam", "bm25_search", "bm25_index_query",
    "hybrid_index_query", "bm25_incremental_query",
    "bm25_index_query_tombstoned", "ann_ivf_index_query_tombstoned",
    "ann_ivf_incremental_query", "html_extract", "rrf_fusion", "pii_redact",
    "prepared_stream_query", "watermarked_tile_windows",
    "stateful_novel_tiles",
]


@pytest.fixture(scope="module")
def profile():
    # loaded by path: on sys.path as `profile` it would be the stdlib module
    spec = importlib.util.spec_from_file_location(
        "profile_tool", ROOT / "tools" / "profile.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_entry_table_is_headline_then_extras(profile):
    bench = profile.bench
    assert bench.HEADLINE == HEADLINE
    assert list(bench.EXTRAS) == EXTRAS
    assert list(bench.ENTRIES) == HEADLINE + EXTRAS
    assert all(callable(fn) for fn in bench.ENTRIES.values())
    # bench-only names resolve through the table, registered ones too
    assert profile.resolve("dedup_minhash_unguarded") is bench.bench_minhash_unguarded
    assert profile.resolve("u1_cell_id") is bench.ENTRIES["u1_cell_id"]
    with pytest.raises(SystemExit):
        profile.resolve("no_such_entry")


def test_profile_time_reports_wall_and_jobs(profile, spark, sf_dir):
    got = profile.time(spark, sf_dir, ["flagship_event_anomalies"], runs=1)
    secs, jobs = got["flagship_event_anomalies"]
    assert secs > 0
    assert jobs >= 1


def test_profile_plans_writes_one_file_per_entry(profile, spark, sf_dir, tmp_path):
    names = ["u1_cell_id", "dedup_simhash_h3"]
    failed = profile.plans(spark, sf_dir, str(tmp_path), names)
    assert failed == []
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        f"{n}.txt" for n in names
    )
    for n in names:
        assert "== Physical Plan ==" in (tmp_path / f"{n}.txt").read_text()
