"""URL/domain provenance ops (operators/web.py)."""
import pytest
from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.web import (
    extract_url_features,
    filter_blocked_domains,
)


URLS = [
    (1, "https://www.example.com/a/b/c?x=1"),
    (2, "http://blog.news.co.uk/politics/today"),
    (3, "https://ads.tracker.com/pixel"),
    (4, "ftp://files.example.org"),
    (5, "https://tracker.com/"),
    (6, "https://example.com"),
    (7, "https://user:pw@deep.sub.domain.example.com:8443/p"),
]


def _df(spark):
    return spark.createDataFrame(URLS, "doc_id long, url string")


def test_extract_url_features(spark):
    out = {r["doc_id"]: r.asDict() for r in extract_url_features(_df(spark)).collect()}
    assert out[1]["host"] == "www.example.com"
    assert out[1]["domain"] == "example.com"
    assert out[1]["path_depth"] == 3
    assert out[2]["domain"] == "news.co.uk"  # ccSLD-aware
    assert out[4]["host"] == "files.example.org"
    assert out[6]["path_depth"] == 0
    assert out[7]["host"] == "deep.sub.domain.example.com"  # creds+port stripped
    assert out[7]["domain"] == "example.com"


def test_filter_blocked_domains_subdomain_match_and_zero_shuffle(spark):
    survived = filter_blocked_domains(_df(spark), ["tracker.com"])
    kept = sorted(r["doc_id"] for r in survived.collect())
    assert kept == [1, 2, 4, 6, 7]  # 3 (subdomain) and 5 (exact) dropped
    blocked = sorted(
        r["doc_id"]
        for r in filter_blocked_domains(
            _df(spark), ["tracker.com"], invert=True
        ).collect()
    )
    assert blocked == [3, 5]
    # the list path is a pure map-only filter: no exchange, no join
    plan = survived._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_filter_blocked_domains_dataframe_blocklist(spark):
    bl = spark.createDataFrame([("example.com",)], ["d"])
    survived = filter_blocked_domains(_df(spark), bl)
    kept = sorted(r["doc_id"] for r in survived.collect())
    assert kept == [2, 3, 4, 5]  # every *.example.com page dropped (.org kept)
    # the blocklist side of the ancestor join broadcasts
    plan = survived._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_url_parse_matches_urllib_oracle(spark):
    """Property check: the native-regexp host extraction agrees with
    urllib.parse on a battery of URL shapes (the independent oracle)."""
    from urllib.parse import urlsplit

    from geoscan_fraud_spark.operators.web import url_parts

    urls = [
        "https://example.com",
        "https://example.com/",
        "http://a.b.example.com/path/x?q=1#f",
        "https://user@host.example.org/p",
        "https://user:pw@host.example.org:8080/p/q",
        "ftp://files.example.net/dir/file.txt",
        "http://localhost:3000/api",
        "https://xn--bcher-kva.example/",
        "http://192.168.0.1/admin",
        "https://EXAMPLE.COM/Upper/Case",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    got = {
        r["i"]: r["p"]["host"]
        for r in df.select("i", url_parts(F.col("url")).alias("p")).collect()
    }
    for i, u in enumerate(urls):
        expected = (urlsplit(u).hostname or "").lower()
        assert got[i] == expected, u


def test_pipeline_domain_blocklist_stage(spark):
    from geoscan_fraud_spark.operators.pipelines import prepare_training_corpus

    good = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, good, "https://ok.example.com/a"),
        (2, " ".join(f"z{i}" for i in range(25)), "https://ads.tracker.com/p"),
        (3, " ".join(f"y{i}" for i in range(25)), "https://tracker.com/"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    out = prepare_training_corpus(
        docs,
        dedup_threshold=0.5,
        url_col="url",
        domain_blocklist=["tracker.com"],
    )
    kept = sorted(r["doc_id"] for r in out["corpus"].collect())
    assert kept == [1]
    reasons = {
        r["doc_id"]: r["reject_reason"] for r in out["annotated"].collect()
    }
    assert reasons[2] == "domain" and reasons[3] == "domain"
    assert reasons[1] is None
    stages = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    assert stages["input"] == 3 and stages["provenance_passed"] == 1

    with pytest.raises(ValueError, match="together"):
        prepare_training_corpus(docs, url_col="url")


def test_blocked_terms_rule(spark):
    """C4-style banned-wordlist gate: native, zero-shuffle, case
    insensitive; plugs into the audit pipeline as a named rule."""
    from geoscan_fraud_spark.operators.pipelines import (
        default_quality_rules,
        prepare_training_corpus,
    )
    from geoscan_fraud_spark.operators.text import (
        blocked_terms_fraction,
        blocked_terms_rule,
    )
    from geoscan_fraud_spark.plans.audit import plan_summary

    base = "perfectly ordinary sentence with enough tokens to pass the gate"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " CASINO"),  # case-insensitive hit
            (3, base + " casino casino jackpot"),
            (4, ""),  # empty: fraction 0.0, rejected by length not terms
        ],
        "doc_id int, text string",
    )
    fr = {
        r["doc_id"]: r["f"]
        for r in docs.select(
            "doc_id",
            blocked_terms_fraction(["casino", "jackpot"]).alias("f"),
        ).collect()
    }
    assert fr[1] == 0.0 and fr[4] == 0.0
    assert fr[2] == pytest.approx(1 / 11) and fr[3] == pytest.approx(3 / 13)

    rules = dict(default_quality_rules())
    rules["blocked_terms"] = blocked_terms_rule(["casino", "jackpot"])
    out = prepare_training_corpus(docs, quality_rules=rules)
    reasons = {
        r["doc_id"]: r["reject_reason"] for r in out["annotated"].collect()
    }
    assert reasons[1] is None
    assert reasons[2] == "blocked_terms" and reasons[3] == "blocked_terms"
    assert reasons[4] == "too_short"
    # allow a tolerated share
    loose = dict(default_quality_rules())
    loose["blocked_terms"] = blocked_terms_rule(
        ["casino", "jackpot"], max_fraction=0.1
    )
    r2 = prepare_training_corpus(docs, quality_rules=loose)
    reasons2 = {
        r["doc_id"]: r["reject_reason"] for r in r2["annotated"].collect()
    }
    assert reasons2[2] is None and reasons2[3] == "blocked_terms"
    # the fraction is pure column algebra: no shuffle, no python
    probe = docs.select(blocked_terms_fraction(["casino"]).alias("f"))
    s = plan_summary(probe)
    assert s["shuffles"] == 0 and s["python_eval"] == 0
    # empty blocklist is a constant pass
    assert docs.filter(~blocked_terms_rule([])).count() == 0
