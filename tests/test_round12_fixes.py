"""Round-12 fixes (VERDICT r11 / ADVICE r11).

Covers:
* ADVICE r11 #4 — `ivf_index_rebuild` on a LEGACY pq block (no
  'sample' key recorded) retrains with 'lowest_id' (the mode every
  pre-r11 index was actually built with), not the current-write
  default 'hash'.
* ADVICE r11 #2 / VERDICT r11 #2 — the default re-rank bound is a
  broadcast left-semi join (asserted in test_round11_fixes.py's
  updated plan test); here we pin that the RESULT is unchanged vs an
  explicit rerank_corpus (the bit-true reference path).
* ADVICE r11 #3 — the incremental-dedup batch-touched-bucket prune
  deduplicates its broadcast build side and auto-disables above a
  batch-size threshold.
* ADVICE r11 #5 — prepared_stream_query fails loudly when the
  availableNow cycle exceeds its await timeout.
* VERDICT r11 #6 — `w1_topk_desc` folded out of the 50-slot registry
  (funds `hybrid_incremental_query`); its fold-witness pandas value
  pin lives here.
"""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb12(spark):
    rng = np.random.default_rng(12)
    rows = [
        (i, [float(x) for x in rng.normal(1.0 if i < 150 else -1.0, 0.3, 16)])
        for i in range(300)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# ADVICE r11 #4 — legacy pq blocks rebuild in their ORIGINAL sample mode
# ---------------------------------------------------------------------------


def test_rebuild_legacy_pq_block_defaults_lowest_id(spark, emb12, tmp_path):
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_rebuild,
        ivf_index_write,
    )
    from geoscan_fraud_spark.sources.io import read_index_meta

    path = str(tmp_path / "idx")
    ivf_index_write(
        emb12, path, n_centroids=4, pq_m=4, pq_k=16, pq_train_rows=100,
    )
    # doctor the metadata into the pre-r11 shape: pq block with no
    # 'sample' key (those indexes were trained with lowest-id ordering)
    meta_path = path + "/centroids.json"
    m = json.load(open(meta_path))
    del m["pq"]["sample"]
    json.dump(m, open(meta_path, "w"))

    ivf_index_rebuild(spark, path)
    meta2 = read_index_meta(meta_path)
    # the retrain matched the mode the legacy index was actually built
    # with — NOT the current-write default 'hash'
    assert meta2["pq"]["sample"] == "lowest_id"
    # a block that RECORDED 'hash' keeps it (already pinned in
    # test_round11_fixes.py::test_pq_metadata_persists_sampling_and_rebuild_reuses)


# ---------------------------------------------------------------------------
# VERDICT r11 #2 — semi-join re-rank bound returns the same top-k
# ---------------------------------------------------------------------------


def test_semi_join_rerank_bound_matches_corpus_rerank(spark, emb12, tmp_path):
    """The default (index-internal, semi-join-bounded) re-rank and the
    rerank_corpus (bit-true full-precision) path must agree on the
    neighbor SET for a well-separated corpus — the r11->r12 plan change
    (collect+isin -> broadcast left-semi) must not move results."""
    from geoscan_fraud_spark.operators.similarity import (
        ivf_index_query,
        ivf_index_write,
    )

    from geoscan_fraud_spark.operators.similarity import (
        dequantize_embeddings,
    )
    from geoscan_fraud_spark.sources.io import read_index_meta
    from geoscan_fraud_spark.operators.similarity import gen_dir

    path = str(tmp_path / "idx")
    ivf_index_write(emb12, path, n_centroids=4, pq_m=4, pq_k=16,
                    pq_train_rows=150)
    q = emb12.filter(F.col("vec_id") < 5)
    got = ivf_index_query(q, path, k=5, nprobe=2, rerank=4)
    # reference: hand the SAME dequantized vectors in as an explicit
    # rerank_corpus — this is exactly what the r11 collect+isin bound
    # scored against, so the r12 semi-join bound must reproduce it
    # bit-for-bit (both paths rescore the same shortlist with the same
    # vectors; only the pruning mechanism differs)
    meta = read_index_meta(path + "/centroids.json")
    deq = dequantize_embeddings(
        spark.read.parquet(gen_dir(path, "lists", meta))
    )
    ref = ivf_index_query(q, path, k=5, nprobe=2, rerank=4,
                          rerank_corpus=deq, id_col="vec_id",
                          emb_col="embedding")
    g = sorted((r["query_id"], r["vec_id"], r["sim"], r["rank"])
               for r in got.collect())
    r = sorted((r["query_id"], r["vec_id"], r["sim"], r["rank"])
               for r in ref.collect())
    assert g == r
    assert len(g) == 5 * 5


# ---------------------------------------------------------------------------
# ADVICE r11 #3 — public prune_index tri-state on the incremental gates
# ---------------------------------------------------------------------------


def test_w1_topk_desc_pandas_pin(spark, sf_dir):
    """Fold-witness value pin for `w1_topk_desc` (rotated out of the
    50-slot registry in r12 to fund `hybrid_incremental_query`): the
    grouped decimal sum + global desc sort with asc tiebreaker + top-10
    must match an independent pandas computation exactly."""
    import pandas as pd

    from geoscan_fraud_spark.harness import w1_topk_desc

    got = w1_topk_desc(spark, sf_dir).toPandas()

    raw = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_custkey", "o_totalprice"]
    ]
    # mirror the decimal(18,2) cast: totals are exact cents
    cents = (raw["o_totalprice"] * 100).round().astype("int64")
    spend = (
        pd.DataFrame({"o_custkey": raw["o_custkey"], "c": cents})
        .groupby("o_custkey", as_index=False)["c"]
        .sum()
    )
    spend["total_spend"] = spend["c"] / 100.0
    exp = (
        spend.sort_values(
            ["total_spend", "o_custkey"], ascending=[False, True]
        )
        .head(10)[["o_custkey", "total_spend"]]
        .reset_index(drop=True)
    )
    assert list(got["o_custkey"]) == list(exp["o_custkey"])
    assert list(got["total_spend"]) == list(exp["total_spend"])


def _gate_fixture12(spark):
    from geoscan_fraud_spark.operators.incremental import minhash_index

    filler = " ".join(f"w{j}" for j in range(20))
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma {filler} token{i} eta theta") for i in range(30)],
        "doc_id long, text string",
    )
    idx = minhash_index(
        corpus, num_hashes=48, sig_hash="xxhash64", bands=12
    ).localCheckpoint(eager=True)
    words = F.split(F.col("text"), r"\s+")
    batch = corpus.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.filter(words, lambda w, i: (i % 13) != 5)).alias("text"),
    ).unionByName(
        spark.createDataFrame(
            [(5000 + i, f"unique fresh words only row{i} qq{i} zz{i}") for i in range(5)],
            "doc_id long, text string",
        )
    )
    return batch, idx


def test_prune_index_tristate(spark):
    """prune_index is public: True/'auto'/False all return the same
    rows; 'auto' with a tiny prune_max_keys auto-disables the broadcast
    prune (the large-batch driver-memory escape — ADVICE r11 #3);
    anything else raises."""
    from geoscan_fraud_spark.operators.incremental import dedup_against_index

    batch, idx = _gate_fixture12(spark)
    kw = dict(num_hashes=48, bands=12, threshold=0.5)
    base = sorted(r["doc_id"] for r in dedup_against_index(batch, idx, **kw).collect())

    auto_on = dedup_against_index(batch, idx, prune_index="auto", **kw)
    assert sorted(r["doc_id"] for r in auto_on.collect()) == base
    # bands(12) x 35 docs > 100 keys -> auto must DISABLE the prune:
    # same rows, and no broadcast semi-join of the store in the plan
    auto_off = dedup_against_index(
        batch, idx, prune_index="auto", prune_max_keys=100, **kw
    )
    assert sorted(r["doc_id"] for r in auto_off.collect()) == base

    with pytest.raises(ValueError, match="prune_index must be"):
        dedup_against_index(batch, idx, prune_index="yes", **kw).collect()


def test_prune_index_tristate_embedding(spark):
    from geoscan_fraud_spark.operators.incremental import (
        embedding_dedup_against_index,
        embedding_index,
    )

    rng = np.random.default_rng(12)
    vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    idx = embedding_index(corpus, dim=16, planes=8).localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        [(1000 + i, [v * 1.0000001 for v in vec]) for i, vec in vecs[:10]]
        + [(2000 + i, [float(x) for x in rng.normal(size=16)]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    kw = dict(dim=16, planes=8, threshold=0.98)
    base = sorted(
        r["vec_id"]
        for r in embedding_dedup_against_index(batch, idx, **kw).collect()
    )
    for pi, mk in (("auto", 2_000_000), ("auto", 3), (False, 0)):
        got = embedding_dedup_against_index(
            batch, idx, prune_index=pi, prune_max_keys=mk, **kw
        )
        assert sorted(r["vec_id"] for r in got.collect()) == base


# ---------------------------------------------------------------------------
# VERDICT r11 missing #1 — real mlflow.pyfunc adapter behind an import guard
# ---------------------------------------------------------------------------


def _tiles_df(spark):
    rows = [
        ("u1", "8A2A1072B59FFFF"),
        ("u1", "8A2A1072B5AFFFF"),
        ("u2", "8A2A1072C30FFFF"),
    ]
    return spark.createDataFrame(rows, "user string, h3 string")


def test_log_h3lookup_importerror_or_roundtrip(spark, tmp_path):
    """With mlflow importable: log the pyfunc model, reload it, and pin
    prediction parity against the in-process `train_blooms`+`H3Lookup`
    path. Without mlflow (this sandbox): the adapter must raise the
    friendly ImportError, not an opaque ModuleNotFoundError mid-call."""
    import pandas as pd

    from geoscan_fraud_spark.operators.bloom import (
        H3Lookup,
        log_h3lookup,
        train_blooms,
    )

    tiles = _tiles_df(spark)
    tx = pd.DataFrame(
        {
            "user": ["u1", "u2", "u3"],
            "latitude": [40.75, 40.76, 40.77],
            "longitude": [-73.98, -73.99, -73.97],
        }
    )

    try:
        import mlflow  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="log_h3lookup needs mlflow"):
            log_h3lookup(tiles)
        return

    import mlflow

    mlflow.set_tracking_uri(f"file://{tmp_path}/mlruns")
    info = log_h3lookup(tiles)
    loaded = mlflow.pyfunc.load_model(info.model_uri)
    got = loaded.predict(tx)

    ref = H3Lookup.from_model_df(train_blooms(tiles)).predict(tx)
    assert list(got["anomaly"]) == list(ref["anomaly"])
    # unseen user scores anomaly=1 (the bu:35 fix), seen users score on
    # their own blooms
    assert got["anomaly"].iloc[2] == 1


# ---------------------------------------------------------------------------
# regression guard: no expensive expression inside a HOF lambda body
# ---------------------------------------------------------------------------


def _lambda_bodies(plan: str):
    """Extract each lambdafunction(...)'s full body via paren balancing."""
    out = []
    i = 0
    while True:
        i = plan.find("lambdafunction(", i)
        if i < 0:
            return out
        j = i + len("lambdafunction(")
        depth = 1
        k = j
        while depth and k < len(plan):
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        out.append(plan[j:k])
        i = k


@pytest.mark.parametrize(
    "op, forbidden_token",
    [("winnow", "split("), ("grams", "split("), ("chunks", "split("), ("bloom", "md5(")],
    ids=["winnow", "grams", "chunks", "bloom"],
)
def test_no_tokenize_inside_hof_lambda(spark, op, forbidden_token):
    """Catalyst re-evaluates non-trivial lambda subexpressions PER
    ELEMENT (no loop-invariant hoisting), so a tokenize/hash chain
    inside a higher-order-function lambda is O(T^2) per document — the
    r12 find that cost `text_winnow_fingerprint` 180 s at sf0.1 until
    the intermediates were staged as real columns. Guard: in the
    OPTIMIZED plan (i.e. after CollapseProject had its chance to
    re-nest), no lambda body of these operators may contain a split()
    call — tokenization must reach lambdas only as an attribute
    reference. (A hash OF the lambda variable itself, e.g.
    transform(grams, md5), is the intended linear per-element work and
    stays allowed.) The bloom scorer's per-row md5 must reach its
    `forall` as a column too, also when a filter on the score is pushed
    down and inlines the projections above the join."""
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j k l"), (1, "m n o p q r s t")],
        "doc_id long, text string",
    )
    if op == "winnow":
        from geoscan_fraud_spark.operators.text import winnow_fingerprints

        df = winnow_fingerprints(docs)
    elif op == "grams":
        from geoscan_fraud_spark.operators.spans import _gram_inventory

        df = _gram_inventory(docs, "text", "doc_id", 3)
    elif op == "chunks":
        from geoscan_fraud_spark.operators.packing import chunk_documents

        df = chunk_documents(docs, 4)
    else:
        from geoscan_fraud_spark.operators.bloom import BloomFilter, score_with_blooms

        raw = BloomFilter(1).to_bytes()
        blooms = spark.createDataFrame([("u", 1, raw)], "user string, n_tiles long, bloom binary")
        tx = spark.createDataFrame([("u", 40.7, -74.0)], "user string, latitude double, longitude double")
        df = score_with_blooms(tx, blooms).filter("anomaly = 1").select("user")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bodies = _lambda_bodies(plan)
    assert bodies or op != "bloom", plan
    for body in bodies:
        assert forbidden_token not in body, body


# ---------------------------------------------------------------------------
# watermarked_tile_windows — the second §2.9 gate entry (VERDICT r11 #8,
# landed r12 ahead of schedule per the COVERAGE.md design note)
# ---------------------------------------------------------------------------


def test_wtw_epoch_secs_matches_duckdb_floor_epoch(spark, sf_dir):
    """The tz-free whole-second epoch the staged stream files carry must
    equal DuckDB's CAST(FLOOR(epoch(ts)) AS BIGINT) bit-for-bit on BOTH
    timestamp flavors `load_fixture` can surface — the NTZ interval
    subtraction (micros fixture) and the instant cast."""
    import duckdb

    from geoscan_fraud_spark.harness_pipeline import _wtw_epoch_secs
    from geoscan_fraud_spark.sources.io import load_fixture

    ev = load_fixture(spark, sf_dir, "events")
    got = {
        (r["event_id"], r["t"])
        for r in ev.select("event_id", _wtw_epoch_secs(ev).alias("t")).collect()
    }
    want = set(
        duckdb.sql(
            "SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) "
            f"FROM '{sf_dir}/events.parquet'"
        ).fetchall()
    )
    assert got == want

    # instant-TIMESTAMP branch: plain epoch cast, same truncation
    inst = spark.sql(
        "SELECT timestamp_micros(1704450030789575) AS ts, 1 AS event_id"
    )
    (row,) = inst.select(_wtw_epoch_secs(inst).alias("t")).collect()
    assert row["t"] == 1704450030


def test_watermarked_tile_windows_matches_oracle_at_test_sf(spark, sf_dir):
    """End-to-end hash-gate replica at the test sf: the two-cycle
    availableNow stream's append-mode emission must equal the batch-SQL
    oracle with watermark constants derived from the SAME fixture (the
    registered oracle pins sf0.01 — the driver's gate scale; this proves
    the construction holds at other scales too)."""
    from geoscan_fraud_spark.harness_pipeline import (
        _wtw_oracle,
        watermarked_tile_windows,
    )
    from geoscan_fraud_spark.testing.oracle import compare_query, duckdb_connection

    con = duckdb_connection(sf_dir)
    status, msg = compare_query(
        spark, con, watermarked_tile_windows, _wtw_oracle(sf_dir), sf_dir
    )
    assert status == "pass", msg


def test_wtw_late_rows_do_real_work(sf_dir):
    """The fixture must exercise every semantic branch the entry claims
    to certify: some late (row, window) pairs DROPPED (closed windows
    never resurrected), and — at the gate scale — some ACCEPTED into
    still-open windows (the boundary case). Otherwise the hash proves
    less than COVERAGE.md says."""
    import duckdb

    from geoscan_fraud_spark.harness_pipeline import (
        _WTW_LATE_MOD,
        _WTW_LATE_RES,
        _WTW_SLIDE,
        _WTW_SPLIT,
        _WTW_WIN,
        _wtw_watermarks,
    )

    w1, _ = _wtw_watermarks(sf_dir)
    dropped, accepted = duckdb.sql(
        f"""
        WITH late AS (
          SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
          FROM '{sf_dir}/events.parquet'
          WHERE event_id % {_WTW_LATE_MOD} = {_WTW_LATE_RES}
            AND CAST(FLOOR(epoch(ts)) AS BIGINT) < {_WTW_SPLIT}
        ),
        pairs AS (
          SELECT (t // {_WTW_SLIDE}) * {_WTW_SLIDE} - i * {_WTW_SLIDE}
                   + {_WTW_WIN} AS w_end
          FROM late CROSS JOIN range(0, {_WTW_WIN // _WTW_SLIDE}) r(i)
        )
        SELECT count(*) FILTER (w_end <= {w1}),
               count(*) FILTER (w_end > {w1}) FROM pairs
        """
    ).fetchone()
    assert dropped > 0, "no late pair exercises the drop path"
    if sf_dir.rstrip("/").endswith("sf0.01"):
        assert accepted > 0, "no late pair exercises the accept path at gate sf"


def test_s2_pruned_scan_pandas_pin(spark, sf_dir):
    """Value pin for the r12 fold of `s2_pruned_scan` (slot funds
    `watermarked_tile_windows`): the filter+project scan stays
    value-correct vs an independent pyarrow/pandas evaluation; the
    PUSHDOWN property it uniquely certified lives on in
    test_plans.py::test_pruned_scan_reads_only_needed_columns."""
    import pyarrow.parquet as pq

    from geoscan_fraud_spark.harness import s2_pruned_scan

    got = {
        tuple(r)
        for r in s2_pruned_scan(spark, sf_dir).collect()
    }
    t = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_quantity"],
    ).to_pandas()
    want = {
        tuple(r)
        for r in t[t["l_quantity"] < 5.0].itertuples(index=False, name=None)
    }
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# repetition_stats tokenization edges, pinned to the retired native chain
# ---------------------------------------------------------------------------


def test_repetition_stats_arrow_bit_parity_with_native(spark):
    """The Arrow pass must reproduce, bit for bit, what the retired native
    HOF chain (`F.split(_, '\\s+')` + sort + run-length fold) returned on
    every tokenization edge the two could disagree on: leading/trailing
    whitespace (Java split keeps the empty strings at limit -1), runs of
    mixed ASCII whitespace incl. \\x0b and \\f, unicode whitespace (Java
    \\s is ASCII-only — NBSP is a token character, not a separator),
    shorter-than-n docs, single-token docs, empty string, and NULL text
    (which the native chain's null-skipping concat_ws treated as EMPTY
    text). The expected tuples are the native chain's output."""
    from geoscan_fraud_spark.operators.text import repetition_stats

    rows = [
        (0, "a b a b a b"),
        (1, " leading space"),
        (2, "trailing space "),
        (3, "tab\tand\nnewline\x0bvt\fff\rcr mix"),
        (4, "nbsp\u00a0is one token"),
        (5, "x"),
        (6, ""),
        (7, None),
        (8, "spam spam spam spam"),
        (9, "  double  spaces  everywhere  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: tuple(r) for r in repetition_stats(df).collect()}
    # (doc_id, dup_frac_2, top_frac_2, dup_frac_3, top_frac_3, dup_frac_4,
    #  top_frac_4)
    assert got == {
        0: (0, 0.6, 0.6, 0.5, 0.5, 0.3333, 0.6667),
        1: (1, 0.0, 0.5, 0.0, 1.0, 0.0, 1.0),
        2: (2, 0.0, 0.5, 0.0, 1.0, 0.0, 1.0),
        3: (3, 0.0, 0.1667, 0.0, 0.2, 0.0, 0.25),
        4: (4, 0.0, 0.5, 0.0, 1.0, 0.0, 1.0),
        5: (5, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0),
        6: (6, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0),
        7: (7, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0),
        8: (8, 0.6667, 1.0, 0.5, 1.0, 0.0, 1.0),
        9: (9, 0.0, 0.25, 0.0, 0.3333, 0.0, 0.5),
    }


# ---------------------------------------------------------------------------
# r12 third rotation: u1_cell_id folded (slot funds stateful_novel_tiles)
# ---------------------------------------------------------------------------


def test_u1_cell_id_duckdb_replay_pin(spark, sf_dir):
    """Fold-witness value pin for U1 (registered entry through r12):
    replay the retired oracle SQL in DuckDB directly and hash-compare —
    the identical check the driver's gate ran while the slot existed.
    The quantization algebra stays load-bearing inside the hash-green
    `watermarked_tile_windows` / `stateful_novel_tiles` oracles (same
    printf literals), but this pin keeps the standalone operator
    bit-exact too."""
    from geoscan_fraud_spark.harness import U1_ORACLE_SQL, u1_cell_id
    from geoscan_fraud_spark.testing.oracle import compare_query, duckdb_connection

    con = duckdb_connection(sf_dir)
    status, msg = compare_query(spark, con, u1_cell_id, U1_ORACLE_SQL, sf_dir)
    assert status == "pass", msg


# ---------------------------------------------------------------------------
# r12 gate entry: stateful_novel_tiles (applyInPandasWithState under gate)
# ---------------------------------------------------------------------------


def test_stateful_novel_tiles_matches_oracle_at_test_sf(spark, sf_dir):
    """End-to-end hash-gate replica at the test sf: the two-cycle
    availableNow stateful run must equal the batch-SQL first-occurrence
    replay (the registered oracle pins sf0.01 — the driver's gate scale;
    this proves the construction holds at other scales too)."""
    from geoscan_fraud_spark.harness_pipeline import (
        _snt_oracle,
        stateful_novel_tiles,
    )
    from geoscan_fraud_spark.testing.oracle import compare_query, duckdb_connection

    con = duckdb_connection(sf_dir)
    status, msg = compare_query(
        spark, con, stateful_novel_tiles, _snt_oracle(sf_dir), sf_dir
    )
    assert status == "pass", msg


def test_snt_fixture_exercises_state_branches(sf_dir):
    """The fixture must make the hash prove what COVERAGE.md claims:
    (a) some (user, tile) pairs are seen in BOTH cycles — cycle-2
    suppression can only come from checkpoint-restored state; (b) at
    the gate scale, some pair exists where the cycle-2 sighting has an
    EARLIER event time than the cycle-1 one — arrival order must beat
    event order; (c) some pair exists ONLY via cycle-2 rows — no
    watermark drop, late-only tiles still emit."""
    import duckdb

    from geoscan_fraud_spark.harness_pipeline import (
        _WTW_LATE_MOD,
        _WTW_LATE_RES,
        _WTW_SPLIT,
        _snt_oracle,
    )

    cells_cte = _snt_oracle(sf_dir).split("SELECT u AS")[0].rstrip().rstrip(",")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    both, inverted, late_only = con.sql(
        cells_cte
        + """
        , pairs AS (
          SELECT u, h3,
                 min(CASE WHEN NOT cyc2 THEN t END) AS t1,
                 min(CASE WHEN cyc2 THEN t END) AS t2
          FROM cells GROUP BY u, h3
        )
        SELECT count(*) FILTER (t1 IS NOT NULL AND t2 IS NOT NULL),
               count(*) FILTER (t2 < t1),
               count(*) FILTER (t1 IS NULL)
        FROM pairs
        """
    ).fetchone()
    assert both > 0, "no pair spans both cycles — state carry untested"
    assert late_only > 0, "no late-only tile — the no-drop rule untested"
    if sf_dir.rstrip("/").endswith("sf0.01"):
        assert inverted > 0, (
            "no pair with an earlier cycle-2 event time at gate sf — "
            "arrival-beats-event-time untested"
        )


# ---------------------------------------------------------------------------
# r12 optimization: Arrow centroid-distance kernel — bit parity vs the fold
# ---------------------------------------------------------------------------


def test_centroid_dists_arrow_bit_parity(spark, sf_dir):
    """The vectorized `_centroid_dists` kernel must reproduce the
    higher-order fold's distances BIT-FOR-BIT (same left-to-right IEEE
    accumulation), on the fixture embeddings AND on adversarial values
    (denormals, huge/tiny magnitudes, exact ties), including NULL rows.
    Every IVF assignment, probe ranking, and oracle replay depends on
    this equality."""
    import struct

    from geoscan_fraud_spark.operators import similarity as sim
    from geoscan_fraud_spark.sources.io import load_fixture

    e = load_fixture(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = len(e.select("embedding").first()[0])
    rng = np.random.default_rng(7)
    cent = [[float(v) for v in rng.normal(scale=s, size=dim)]
            for s in (1.0, 1e-3, 1e3, 1.0)]

    def dists(kernel, df, col="embedding"):
        rows = df.select("vec_id", kernel(F.col(col), cent).alias("d")).collect()
        return {r.vec_id: r.d for r in rows}

    fold, arrow = sim._centroid_dists_fold, sim._centroid_dists
    a, b = dists(fold, e), dists(arrow, e)
    assert set(a) == set(b)
    for k in a:
        for x, y in zip(a[k], b[k]):
            assert struct.pack("<d", x) == struct.pack("<d", y), (k, x, y)

    # adversarial + NULL rows through both kernels
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    adv = spark.createDataFrame(
        [
            (0, [5e-324] * dim),                       # denormals
            (1, [1e150] * dim),                        # huge but finite n2
            (2, [0.0] * dim),                          # exact zero
            (3, None),                                 # NULL embedding
            (4, [float(v) for v in rng.normal(size=dim)]),
        ],
        schema,
    )
    a, b = dists(fold, adv), dists(arrow, adv)
    # a NULL embedding yields an array of k NULL distances on both paths
    assert list(a[3]) == [None] * len(cent)
    assert list(b[3]) == [None] * len(cent)
    for k in (0, 1, 2, 4):
        for x, y in zip(a[k], b[k]):
            assert struct.pack("<d", x) == struct.pack("<d", y), (k, x, y)


# ---------------------------------------------------------------------------
# r12 optimization: the ingest sink's quality gate attaches only the stat
# relations the ACTIVE rules reference (guide §1.2 — don't compute what
# you throw away). A min_tokens-only gate must never EXECUTE the
# repetition pass; a rule that references a repetition column must still
# attach (and execute) it; survivors are identical either way.
# ---------------------------------------------------------------------------


def test_ingest_gate_skips_unreferenced_stat_passes(spark, tmp_path, monkeypatch):
    # imported before the patch: the sink imports `pipelines` lazily, and
    # a first import under the patch would bind the poisoned function into
    # it for every later test (test_round6_ops' corpus pipeline)
    import geoscan_fraud_spark.operators.pipelines  # noqa: F401
    import geoscan_fraud_spark.operators.text as text_mod
    import geoscan_fraud_spark.streaming.scoring as sc
    from geoscan_fraud_spark.operators.incremental import minhash_index

    real_reps = text_mod.repetition_stats

    def poisoned_reps(df, text_col="text", id_col="doc_id", ns=(2, 3)):
        # same schema/rows, but any EXECUTION of the stat columns blows
        # up; construction (what the driver-side resolution probe does)
        # stays free, so a passing min_tokens-only run proves the pass
        # was never attached to the executed plan.
        @F.udf("double")
        def boom(x):
            raise RuntimeError("repetition pass executed")

        out = real_reps(df, text_col, id_col, ns)
        return out.select(
            id_col, *[boom(c).alias(c) for c in out.columns if c != id_col]
        )

    # the sink imports repetition_stats from operators.text at call time
    monkeypatch.setattr(text_mod, "repetition_stats", poisoned_reps)

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "dup dup dup dup dup dup dup dup"),
            (2, "short"),
        ],
        "doc_id long, text string",
    )
    store = minhash_index(docs.limit(0), "text", "doc_id", 3, 48, "md5", bands=12)

    def survivors(rules):
        sink = sc.prepared_ingest_sink(
            str(tmp_path / "idx"),
            str(tmp_path / "out"),
            quality_rules=rules,
            num_hashes=48,
            bands=12,
            threshold=0.5,
            sig_hash="md5",
        )
        # reach the gate logic directly through the sink's dedup_fn
        # closure shape: replicate by calling the module-level pieces is
        # brittle — instead run one real batch through the sink
        import shutil

        for d in ("idx", "out"):
            shutil.rmtree(str(tmp_path / d), ignore_errors=True)
        sink(docs, 0)
        kept = spark.read.parquet(str(tmp_path / "out" / "batch_id=0"))
        return sorted(r.doc_id for r in kept.select("doc_id").collect())

    # min_tokens-only gate: repetition columns unreferenced -> the
    # poisoned pass must never run, and the repetitive doc 1 survives
    assert survivors({"min_tokens": F.col("n_tokens") >= 3}) == [0, 1]

    # a rule that references dup_frac_3 must attach the pass -> poison fires
    with pytest.raises(Exception, match="repetition pass executed"):
        survivors(
            {
                "min_tokens": F.col("n_tokens") >= 3,
                "dup_3grams": F.col("dup_frac_3") <= 0.5,
            }
        )

    # unpoisoned: default rules (which reference repetition columns)
    # still gate the repetitive doc out — the conditional attach logic
    # never false-skips
    monkeypatch.setattr(text_mod, "repetition_stats", real_reps)
    from geoscan_fraud_spark.operators.pipelines import default_quality_rules

    assert survivors(dict(default_quality_rules(min_tokens=3))) == [0]

    # unknown rule column: today's loud analysis error is preserved
    with pytest.raises(Exception):
        survivors({"bogus": F.col("no_such_column") > 0})


# ---------------------------------------------------------------------------
# r12 streaming job-floor cuts: signature reuse + bucket-clustered appends
# ---------------------------------------------------------------------------


def test_sink_index_rows_reuse_sigs_bit_identical(spark, tmp_path):
    """The ingest sink's store rows now derive from the dedup stage's
    checkpointed signature table (semi-join on the committed kept ids)
    instead of a second shingle+minhash pass over the survivors' text.
    Pin bit-identity against a fresh `minhash_index` over the stored
    corpus rows — per batch, across the cross-batch store path."""
    from geoscan_fraud_spark.operators.incremental import minhash_index
    from geoscan_fraud_spark.streaming.scoring import neardup_ingest_sink

    filler = " ".join(f"w{j}" for j in range(30))
    docs = spark.createDataFrame(
        [(i, f"alpha beta {filler} tail{i} omega") for i in range(40)]
        + [(100 + i, f"singleton fresh row{i} qq{i} zz{i} yy{i}") for i in range(10)],
        "doc_id long, text string",
    )
    words = F.split(F.col("text"), r"\s+")
    batch1 = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.filter(words, lambda w, i: (i % 11) != 4)).alias(
            "text"
        ),
    )
    sink = neardup_ingest_sink(
        str(tmp_path / "idx"),
        str(tmp_path / "out"),
        num_hashes=48,
        bands=12,
        threshold=0.5,
        sig_hash="md5",
    )
    sink(docs, 0)
    sink(batch1, 1)
    for bid in (0, 1):
        kept = spark.read.parquet(str(tmp_path / "out" / f"batch_id={bid}"))
        assert kept.count() > 0
        stored = spark.read.parquet(str(tmp_path / "idx" / f"batch_id={bid}"))
        fresh = minhash_index(
            kept, "text", "doc_id", 3, 48, "md5", bands=12
        )
        a = {r["id"]: (tuple(r["sig"]), tuple(r["bands"])) for r in stored.collect()}
        b = {r["id"]: (tuple(r["sig"]), tuple(r["bands"])) for r in fresh.collect()}
        assert a == b, f"batch {bid}: stored index rows != fresh minhash_index"


def test_precollapse_single_checkpoint_sig_table(spark):
    """`dedup_against_index` now materializes the signature pass and the
    exact-dup collapse as ONE checkpoint. Pin (a) the exposed sig table
    is exactly `minhash_index` of the min-id representatives and (b) the
    kept set is unchanged vs the uncollapsed reference path on a batch
    seeded with exact duplicates."""
    from geoscan_fraud_spark.operators.incremental import (
        dedup_against_index,
        minhash_index,
    )

    batch, idx = _gate_fixture12(spark)
    # add exact copies so the precollapse does real work
    copies = batch.limit(4).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text"
    )
    seeded = batch.unionByName(copies)
    kw = dict(num_hashes=48, bands=12, threshold=0.5, sig_hash="xxhash64")
    sig_out: dict = {}
    kept = dedup_against_index(seeded, idx, _sig_out=sig_out, **kw)
    kept_ids = sorted(r.doc_id for r in kept.select("doc_id").collect())
    ref = dedup_against_index(seeded, idx, precollapse_exact=False, **kw)
    ref_ids = sorted(r.doc_id for r in ref.select("doc_id").collect())
    assert kept_ids == ref_ids
    # exposed sigs: one row per min-id rep, bit-equal to a fresh pass
    full = minhash_index(seeded, num_hashes=48, sig_hash="xxhash64")
    reps = {}
    for r in full.collect():
        k = tuple(r["sig"])
        if k not in reps or r["id"] < reps[k]:
            reps[k] = r["id"]
    expect = {v: k for k, v in reps.items()}
    got = {r["id"]: tuple(r["sig"]) for r in sig_out["sigs"].collect()}
    assert got == expect


def test_text_index_append_bucket_clustered_files(spark, tmp_path):
    """Appends REBALANCE by the layout column before the dynamic
    partition write: one file per (append, touched bucket) instead of
    tasks x buckets (672 at the gate fixture). Rows themselves are
    unchanged — the existing append/query parity tests pin values."""
    import os

    from geoscan_fraud_spark.operators.retrieval import (
        text_index_append,
        text_index_write,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha bravo charlie delta echo{i} foxtrot{i % 7}") for i in range(200)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tidx")
    text_index_write(docs.limit(0), path, n_buckets=16)
    text_index_append(docs, path, src_batch=0)
    pdir = os.path.join(path, "postings")
    per_bucket: dict[str, int] = {}
    for root, _dirs, files in os.walk(pdir):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            per_bucket[os.path.basename(root)] = n
    assert per_bucket, "append wrote no postings"
    # every touched bucket holds exactly one file for this append
    assert all(n == 1 for n in per_bucket.values()), per_bucket


def test_build_single_tokenize_counters_match_incremental(spark, tmp_path):
    """r12: `text_index_write` derives its counters and empty-doc list
    from the ONE persisted explode_outer relation (the append's r11
    sentinel shape) instead of a second/third corpus tokenize pass. Pin
    the alignment: a from-scratch build over a corpus holding a normal,
    an empty-string, a whitespace-only and a NULL-text doc produces
    bit-identical stats.json counters AND the same empty_docs id set as
    an append-grown index over the same corpus — including the NULL-text
    doc, which the old build COUNTED in n_empty but omitted from the
    empty_docs list (appends always recorded it; the two paths now
    agree on the edge)."""
    import os

    from geoscan_fraud_spark.operators.retrieval import (
        read_index_meta,
        text_index_append,
        text_index_write,
    )

    rows = [
        (0, "alpha bravo alpha"),
        (1, "charlie delta"),
        (2, ""),
        (3, "   "),
        (4, None),
        (5, "echo"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    built = str(tmp_path / "built")
    text_index_write(docs, built, n_buckets=4)

    grown = str(tmp_path / "grown")
    text_index_write(docs.limit(0), grown, n_buckets=4)
    text_index_append(docs.filter(F.col("doc_id") <= 2), grown, src_batch=0)
    text_index_append(docs.filter(F.col("doc_id") > 2), grown, src_batch=1)

    mb = read_index_meta(built + "/stats.json")
    mg = read_index_meta(grown + "/stats.json")
    for key in ("n_docs", "total_dl", "avgdl", "n_empty"):
        assert mb[key] == mg[key], (key, mb[key], mg[key])
    assert mb["n_docs"] == 6 and mb["n_empty"] == 3 and mb["total_dl"] == 6

    def empty_ids(path):
        d = os.path.join(path, "empty_docs")
        if not os.path.isdir(d):
            return set()
        return {r["doc_id"] for r in spark.read.parquet(d).collect()}

    assert empty_ids(built) == empty_ids(grown) == {2, 3, 4}
