"""bench.py's one entry table and tools/profile.py over it."""

from __future__ import annotations

import importlib.util
import os
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
    "lm_perplexity", "bpe_segment",
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
    t = got["flagship_event_anomalies"]
    assert t.secs > 0
    assert t.jobs >= 1
    assert t.exec_s > 0
    assert t.rows > 0


def test_profile_plans_writes_one_file_per_entry(profile, spark, sf_dir, tmp_path):
    names = ["u1_cell_id", "dedup_simhash_h3"]
    failed = profile.plans(spark, sf_dir, str(tmp_path), names)
    assert failed == []
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        f"{n}.txt" for n in names
    )
    for n in names:
        assert "== Physical Plan ==" in (tmp_path / f"{n}.txt").read_text()


def test_fit_slope_guards_degenerate_ladder(profile):
    assert abs(profile.fit_slope([10, 100], [1.0, 10.0]) - 1.0) < 0.01
    with pytest.raises(ValueError, match="two distinct scales"):
        profile.fit_slope([10, 10], [1.0, 1.1])


def _copies(path):
    """(copy 0, copy 1) of a two-copy fixture table, one row group each."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(path)
    assert f.num_row_groups == 2
    return f.read_row_group(0), f.read_row_group(1)


def test_scaled_fixture_copies_are_disjoint(profile, spark, sf_dir, tmp_path):
    import re

    import pyarrow.parquet as pq

    from geoscan_fraud_spark.harness import _events_coords
    from geoscan_fraud_spark.operators.text import TOKEN_PATTERN
    from geoscan_fraud_spark.sources.io import load_fixture

    out = profile.scaled_fixture(sf_dir, 2, str(tmp_path / "k2"))
    copied = 0
    for fname in sorted(os.listdir(sf_dir)):
        src, dst = os.path.join(sf_dir, fname), os.path.join(out, fname)
        if os.path.islink(dst):
            assert fname in ("nation.parquet", "region.parquet")
            continue
        copied += 1
        orig = pq.read_table(src)
        c0, c1 = _copies(dst)
        assert c0.num_rows == c1.num_rows == orig.num_rows > 0
        assert c0.equals(orig)  # copy 0 is the fixture itself
        keys = [n for n in orig.column_names if n.endswith(("key", "_id"))]
        keys = [n for n in keys if str(orig.schema.field(n).type) == "int64"]
        assert keys
        for n in keys:
            assert not set(c0[n].to_pylist()) & set(c1[n].to_pylist()), (fname, n)
    assert copied == 8

    def n_rows(d, sql_from):
        for t in ("orders", "customer", "lineitem"):
            load_fixture(spark, d, t).createOrReplaceTempView(f"scale_{t}")
        return spark.sql(f"SELECT count(*) FROM {sql_from}").first()[0]

    for join in (
        "scale_orders JOIN scale_customer ON o_custkey = c_custkey",
        "scale_lineitem JOIN scale_orders ON l_orderkey = o_orderkey",
    ):
        base = n_rows(sf_dir, join)
        assert base > 0
        assert n_rows(out, join) == 2 * base

    d0, d1 = _copies(os.path.join(out, "documents.parquet"))
    toks0 = {t for x in d0["text"].to_pylist() for t in re.findall(TOKEN_PATTERN, x)}
    toks1 = {t for x in d1["text"].to_pylist() for t in re.findall(TOKEN_PATTERN, x)}
    assert toks1 and not toks0 & toks1
    assert [len(x.split()) for x in d0["text"].to_pylist()] == [
        len(x.split()) for x in d1["text"].to_pylist()
    ]
    e0, e1 = _copies(os.path.join(out, "embeddings.parquet"))
    assert e0["embedding"].type == e1["embedding"].type
    assert e0["embedding"].to_pylist() != e1["embedding"].to_pylist()

    # event coordinates derive from `value`: no point of copy 1 sits on
    # a point of copy 0, in the raw or in the geo entries' dense box
    from geoscan_fraud_spark.harness_geo import _dense_points

    for pts in (_events_coords(spark, out), _dense_points(spark, out)):
        rows = pts.select("event_id", "latitude", "longitude").collect()
        p0 = {tuple(r[1:]) for r in rows if r[0] < profile.KEY_STRIDE}
        p1 = {tuple(r[1:]) for r in rows if r[0] >= profile.KEY_STRIDE}
        assert p0 and p1 and not p0 & p1


def test_profile_scale_ladder(profile, spark, sf_dir, monkeypatch):
    got = profile.scale(spark, sf_dir, ["u1_cell_id"], [1, 2])
    assert got["ks"] == [1, 2]
    rec = got["entries"]["u1_cell_id"]
    for field in ("rows", "secs", "jobs", "exec_s"):
        assert len(rec[field]) == 2, field
    assert rec["rows"][1] == 2 * rec["rows"][0] > 0
    assert all(j >= 1 for j in rec["jobs"])
    assert isinstance(rec["slope"], float)
    assert got["default_parallelism"] >= 1 and len(got["load"]) == 2

    def no_timing(*a, **kw):
        raise AssertionError("timed a ladder with one distinct k")

    monkeypatch.setattr(profile, "time", no_timing)
    with pytest.raises(SystemExit, match="two distinct k"):
        profile.scale(spark, sf_dir, ["u1_cell_id"], [2, 2])


def test_scratch_dirs_removed_at_exit(tmp_path):
    """Stores made through `harness.scratch_dir` share one root per
    process, and the root is gone once that process exits."""
    import subprocess
    import sys

    code = (
        "import os\n"
        "from geoscan_fraud_spark.harness import scratch_dir\n"
        "a, b = scratch_dir('a_'), scratch_dir('b_')\n"
        "open(os.path.join(a, 'part'), 'w').write('x')\n"
        "assert a != b and os.path.dirname(a) == os.path.dirname(b)\n"
        "print(os.path.dirname(a))\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT, env=env, capture_output=True, text=True, check=True,
    )
    root = out.stdout.strip().splitlines()[-1]
    assert pathlib.Path(root).parent == tmp_path
    assert not os.path.exists(root)
    assert list(tmp_path.iterdir()) == []
