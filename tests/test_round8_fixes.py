"""Round-8 pins.

1. Value pins for the four entries folded out of the driver registry in
   the r08 rotation (slots fund `bm25_search` / `token_shards` /
   `rrf_fusion` / `html_extract`): each folded query keeps an
   independent python/pandas/numpy oracle here, per the fold convention
   (COVERAGE.md "Registry rotation candidates").
2. The `ref_csv_unclustered` digest golden's provenance: the digest row
   the registry pins is re-derived here from the underlying 1,727-row
   unclustered set, and shown partition-invariant.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.sources.io import load_fixture


def test_j1_join_single_key_matches_pandas(spark, sf_dir):
    """Folded r08: j1_join_single_key left the driver registry (slot
    funds bm25_search); the three-table join aggregate stays pinned
    against a pandas merge."""
    from geoscan_fraud_spark.harness import j1_join_single_key

    got = {
        r["n_name"]: (r["order_cnt"], round(r["total_price"], 2))
        for r in j1_join_single_key(spark, sf_dir).collect()
    }
    o = load_fixture(spark, sf_dir, "orders").select("o_custkey", "o_totalprice").toPandas()
    c = load_fixture(spark, sf_dir, "customer").select("c_custkey", "c_nationkey").toPandas()
    n = load_fixture(spark, sf_dir, "nation").select("n_nationkey", "n_name").toPandas()
    m = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    exp = m.groupby("n_name")["o_totalprice"].agg(["count", "sum"])
    assert len(got) == len(exp) > 0
    for name, row in exp.iterrows():
        cnt, total = got[name]
        assert cnt == int(row["count"])
        assert total == pytest.approx(row["sum"], abs=1e-4)


def test_a8_percentiles_matches_numpy(spark, sf_dir):
    """Folded r08: a8_percentiles left the driver registry (slot funds
    token_shards); exact interpolated percentiles stay pinned against
    numpy's linear interpolation."""
    import numpy as np

    from geoscan_fraud_spark.harness import a8_percentiles

    got = {
        r["l_returnflag"]: (r["p25"], r["p50"], r["p90"])
        for r in a8_percentiles(spark, sf_dir).collect()
    }
    li = load_fixture(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity").toPandas()
    assert len(got) > 0
    for flag, grp in li.groupby("l_returnflag"):
        exp = tuple(
            round(float(np.percentile(grp["l_quantity"], p, method="linear")), 4)
            for p in (25, 50, 90)
        )
        assert got[flag] == pytest.approx(exp, abs=1e-9)


def test_ngram_jaccard_pairs_matches_python(spark, sf_dir):
    """Folded r08: ngram_jaccard_pairs left the driver registry (slot
    funds html_extract); the intersect/union arithmetic stays pinned
    against python set algebra (and stays load-bearing inside the
    still-registered dedup_minhash verify stage)."""
    from geoscan_fraud_spark.harness_pipeline import ngram_jaccard_pairs

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    docs = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in load_fixture(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    exp = {
        (i, i + 1): len(docs[i] & docs[i + 1]) / len(docs[i] | docs[i + 1])
        for i in docs
        if i + 1 in docs
    }
    assert len(got) == len(exp) > 0
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, abs=1e-12)


def test_text_token_stats_matches_python(spark, sf_dir):
    """Folded r08: text_token_stats left the driver registry (slot funds
    rrf_fusion); the full stat row — whitespace tokens, TOKEN_PATTERN
    regex tokens, distinct count, mean token length — stays pinned
    against a python oracle."""
    from geoscan_fraud_spark.harness_pipeline import text_token_stats
    from geoscan_fraud_spark.operators.text import TOKEN_PATTERN

    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_regex_tokens"],
            r["n_distinct_tokens"],
            r["avg_token_len"],
        )
        for r in text_token_stats(spark, sf_dir).collect()
    }
    rows = load_fixture(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(got) == len(rows) > 0
    from decimal import ROUND_HALF_UP, Decimal

    pat = re.compile(TOKEN_PATTERN)
    for r in rows:
        tok = re.split(r"\s+", r["text"].strip())
        # Spark's round() is HALF_UP over the double's exact decimal
        # expansion (not python's banker's rounding)
        mean = Decimal(sum(len(t) for t in tok) / len(tok))
        exp = (
            len(tok),
            len(pat.findall(r["text"])),
            len(set(tok)),
            float(mean.quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)),
        )
        g = got[r["doc_id"]]
        assert g[:3] == exp[:3]
        assert g[3] == pytest.approx(exp[3], abs=1e-9)


def test_ref_csv_digest_matches_row_level_golden(spark):
    """The r08 `ref_csv_unclustered` registry entry pins a one-row digest
    (count, users, DECIMAL sums, xor of row xxhash64). Re-derive that
    digest here from the row-level unclustered set and assert the pinned
    literals, plus partition-invariance of the xor digest (the property
    that makes it a safe distributed pin)."""
    from geoscan_fraud_spark.operators.geoscan import Geoscan
    from geoscan_fraud_spark.sources.io import TRANSACTIONS_SCHEMA, read_csv

    df = read_csv(
        spark, "/root/reference/data/transactions.csv", TRANSACTIONS_SCHEMA
    )
    model = Geoscan().setEpsilon(200.0).setMinPts(20).fit(df)

    def digest(frame):
        un = (
            model.transform(frame)
            .filter(F.col("cluster").isNull())
            .select("user", "latitude", "longitude", "amount")
        )
        return un.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(user, latitude, longitude, amount))").alias("d"),
            F.sum(F.col("amount").cast("decimal(12,2)")).cast("double").alias("amt"),
        ).collect()[0]

    base = digest(df)
    assert base["n"] == 1727
    assert base["d"] == 6127697113465282967
    assert base["amt"] == pytest.approx(177071.68, abs=1e-9)
    # partition-invariance: same digest from a different physical layout
    again = digest(df.repartition(17))
    assert (again["n"], again["d"]) == (base["n"], base["d"])


def test_dedup_span_store_collapses_crash_duplicates(spark, tmp_path):
    """r08 (VERDICT r07 #5): a crashed compact_index swap can transiently
    show the same gram-count row BOTH as its live `batch_id=K` partition
    and inside the `batch_id=-1` base as `src_batch=K`. The store read
    now dedups (gh, origin) before the group-sum, so removal decisions
    against the half-swapped store equal the clean store's exactly;
    provenance-free (src_batch=-1) rows still pass through untouched."""
    from geoscan_fraud_spark.operators.spans import (
        dedup_span_store,
        merge_span_index,
        remove_spans_against_index,
        span_gram_index,
    )

    docs = [
        (0, "a b c d e f g h i j"),
        (1, "a b c d e f g h i j"),  # full dup of doc 0's grams
        (2, "q r s t u v w x y z"),
    ]
    prior = spark.createDataFrame(docs, "doc_id int, text string")
    store_rows = span_gram_index(prior, min_len=5)

    # half-swapped layout: live partition AND folded base with the SAME rows
    path = str(tmp_path / "span_store")
    store_rows.write.parquet(f"{path}/batch_id=0")
    store_rows.withColumn("src_batch", F.lit(0)).write.parquet(
        f"{path}/batch_id=-1"
    )
    raw = spark.read.option("mergeSchema", "true").parquet(path)
    assert raw.count() == 2 * store_rows.count()  # duplicates really exist

    deduped = dedup_span_store(raw)
    clean = store_rows.select("gh", "cnt")
    assert (
        merge_span_index(deduped).orderBy("gh").collect()
        == merge_span_index(clean).orderBy("gh").collect()
    )

    # a batch with one single-occurrence doc: against the clean store its
    # grams are unseen (first occurrence, kept); a 2x over-count must not
    # resurrect removal
    batch = spark.createDataFrame(
        [(10, "k l m n o p k l m n o p")], "doc_id int, text string"
    )
    got = remove_spans_against_index(batch, deduped, min_len=5).collect()
    exp = remove_spans_against_index(batch, clean, min_len=5).collect()
    assert got == exp

    # unknown-origin rows are NOT collapsed (structurally non-dedupable)
    unk = store_rows.withColumn("src_batch", F.lit(-1))
    both = unk.unionByName(unk)
    assert dedup_span_store(both).count() == 2 * store_rows.count()


def test_write_table_orc_round_trip(spark, sf_dir):
    """r08 (VERDICT r07 #6): S4's format pluggability exercised with a
    real non-parquet format — the tiles-shaped aggregate written through
    `write_table(fmt='orc')` reads back value-identical, and the catalog
    records the ORC provider."""
    from geoscan_fraud_spark.sources import io as eio

    tiles = (
        load_fixture(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 7).alias("user"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exp = {
        (r["user"], r["event_type"]): r["n"] for r in tiles.collect()
    }
    eio.create_database(spark, "gfs_r8_orc")
    try:
        eio.write_table(tiles, "gfs_r8_orc.tiles", fmt="orc")
        back = eio.read_table(spark, "gfs_r8_orc.tiles")
        got = {(r["user"], r["event_type"]): r["n"] for r in back.collect()}
        assert got == exp and len(got) > 0
        detail = spark.sql("DESCRIBE TABLE EXTENDED gfs_r8_orc.tiles").collect()
        providers = [r["data_type"] for r in detail if r["col_name"] == "Provider"]
        assert providers and providers[0].lower() == "orc"
    finally:
        spark.sql("USE default")
        eio.drop_database(spark, "gfs_r8_orc")


def test_score_with_blooms_never_touches_driver(spark, sf_dir):
    """r08 (VERDICT r07 #9): the distributed bloom-scoring path must
    never move the model through the driver — plan construction triggers
    ZERO Spark jobs (no hidden collect of the blooms), unlike
    `H3Lookup.from_model_df`, whose collect-everything serving contract
    (and its documented ~1.5 KB/user driver ceiling) is the reason this
    path exists."""
    from geoscan_fraud_spark.operators.bloom import (
        score_with_blooms,
        train_blooms,
    )
    from geoscan_fraud_spark.functions.grid import cell_id

    ev = load_fixture(spark, sf_dir, "events")
    pts = ev.select(
        (F.col("user_id") % 5).cast("string").alias("user"),
        (F.lit(40.7) + (F.col("event_id") % 100) / 10000.0).alias("latitude"),
        (F.lit(-74.0) + (F.col("event_id") % 90) / 10000.0).alias("longitude"),
    )
    tiles = pts.select(
        "user", cell_id(F.col("latitude"), F.col("longitude"), 10).alias("h3")
    )
    blooms = train_blooms(tiles).localCheckpoint(eager=True)

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    scored = score_with_blooms(pts, blooms)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # building the scoring plan collected nothing
    rows = scored.collect()
    assert len(rows) == pts.count()
    # every training point's own tile must be non-anomalous (FNR = 0)
    assert all(r["anomaly"] == 0 for r in rows)


def test_ann_cosine_topk_matches_numpy(spark, sf_dir):
    """Folded r08 (second wave): ann_cosine_topk left the driver
    registry (slot funds pii_redact); its cosine top-k values stay
    pinned against a numpy oracle. Driver-side witnesses remain
    `ann_ivf_topk` (exact re-rank = the same cosine + window top-k) and
    `rrf_fusion` (dense leg is this very function)."""
    import numpy as np

    from geoscan_fraud_spark.harness_pipeline import ann_cosine_topk

    got = {
        (r["query_id"], r["vec_id"]): (r["sim"], r["rank"])
        for r in ann_cosine_topk(spark, sf_dir).collect()
    }
    t = (
        load_fixture(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    ids = t["vec_id"].to_numpy()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in t["embedding"]])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    exp = {}
    for qi in np.flatnonzero(ids < 5):
        sims = Xn @ Xn[qi]
        order = [
            j
            for j in sorted(
                range(len(ids)), key=lambda j: (-round(sims[j], 6), ids[j])
            )
            if j != qi
        ][:10]
        for rank, j in enumerate(order, start=1):
            exp[(int(ids[qi]), int(ids[j]))] = (round(float(sims[j]), 6), rank)
    assert len(got) == len(exp) > 0
    for key, (sim, rank) in exp.items():
        g_sim, g_rank = got[key]
        assert g_rank == rank, (key, g_rank, rank)
        assert abs(g_sim - sim) <= 1e-6, (key, g_sim, sim)


def test_pii_redact_entry_values(spark, sf_dir):
    """The r08 `pii_redact` registry entry: every doc gets exactly one
    seeded span per pattern class (email/card/phone/IP/SSN), all five
    are rewritten to their markers, and no raw span survives."""
    from geoscan_fraud_spark.harness_pipeline import pii_redact

    rows = pii_redact(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_redactions"] == 5, (r["doc_id"], r["n_redactions"])
        red = r["redacted"]
        for marker in ("<EMAIL>", "<CARD>", "<PHONE>", "<IP>", "<SSN>"):
            assert marker in red, (r["doc_id"], marker)
        assert "@mail.example.org" not in red
        assert "4111" not in red
        assert "415-555" not in red
        assert "078-05-1120" not in red
        assert red.endswith("<SSN> end")


def test_pii_redact_plan_map_only(spark, sf_dir):
    """redact_pii is a pure regexp_replace chain — the registry entry
    must stay map-only: zero shuffles, zero Python eval nodes."""
    from geoscan_fraud_spark.harness_pipeline import pii_redact
    from geoscan_fraud_spark.plans.audit import plan_summary

    plan = plan_summary(pii_redact(spark, sf_dir))
    assert plan["shuffles"] == 0
    assert plan["python_eval"] == 0
