"""HTML text extraction (`operators/html.py`): Python re-implementation
of the rule spec as the value oracle, seeded fuzz over generated markup,
and the zero-shuffle/zero-Python plan contract."""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from geoscan_fraud_spark.operators.html import (
    extract_html_text,
    strip_html,
)
from geoscan_fraud_spark.plans.audit import plan_summary

_BLOCK_TAGS = (
    "p|div|li|ul|ol|tr|table|h1|h2|h3|h4|h5|h6|br|section|article|"
    "blockquote|pre|header|footer|nav|figure|figcaption"
)
_ENTITIES = [
    (r"&lt;|&#60;", "<"),
    (r"&gt;|&#62;", ">"),
    (r"&quot;|&#34;", '"'),
    (r"&#39;|&apos;", "'"),
    (r"&nbsp;|&#160;", " "),
    (r"&amp;|&#38;", "&"),
]


def _py_strip_html(h: str) -> str:
    """Direct Python transcription of the documented rule pipeline."""
    c = h
    c = re.sub(r"(?is)<script\b[^>]*>.*?</script\s*>", "", c)
    c = re.sub(r"(?is)<style\b[^>]*>.*?</style\s*>", "", c)
    c = re.sub(r"(?is)<head\b[^>]*>.*?</head\s*>", "", c)
    c = re.sub(r"(?s)<!--.*?-->", "", c)
    c = re.sub(r"(?i)</?(?:" + _BLOCK_TAGS + r")\b[^>]*>", "\n", c)
    c = re.sub(r"(?s)<[^>]*>", "", c)
    for pat, rep in _ENTITIES:
        c = re.sub(pat, rep, c)
    c = re.sub(r"[ \t\r\f]+", " ", c)
    c = re.sub(r" ?\n ?", "\n", c)
    c = re.sub(r"\n{3,}", "\n\n", c)
    return c.strip()


PAGE = """<!DOCTYPE html><html><head><title>Ignored</title>
<style>body { color: red; }</style></head>
<body>
<!-- nav boilerplate -->
<h1>The Heading</h1>
<p>First paragraph with <b>bold</b> and a <a href="https://example.com/x">link</a>.</p>
<script type="text/javascript">var x = "<p>not text</p>";</script>
<div>Second &amp; final &lt;section&gt;; price &#39;4&#160;USD&#39;</div>
<ul><li>alpha</li><li>beta</li></ul>
</body></html>"""


def test_strip_html_page(spark):
    df = spark.createDataFrame([(1, PAGE)], "id long, html string")
    got = df.select(strip_html(F.col("html")).alias("t")).first()["t"]
    assert got == _py_strip_html(PAGE)
    # load-bearing properties, independent of the reference transcription
    assert "Ignored" not in got          # head content gone
    assert "color: red" not in got       # style gone
    assert "not text" not in got         # script content gone
    assert "boilerplate" not in got      # comment gone
    assert "Second & final <section>; price '4 USD'" in got
    assert got.startswith("The Heading")
    assert "alpha\n" in got and "beta" in got  # list items line-broken


def test_amp_lt_does_not_double_decode(spark):
    df = spark.createDataFrame([(1, "a &amp;lt; b")], "id long, html string")
    got = df.select(strip_html(F.col("html")).alias("t")).first()["t"]
    assert got == "a &lt; b"  # NOT "a < b"


def test_null_and_plain_text(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "no markup at all"), (3, "")], "id long, html string"
    )
    rows = {r["id"]: r["t"] for r in df.select("id", strip_html(F.col("html")).alias("t")).collect()}
    assert rows[1] is None
    assert rows[2] == "no markup at all"
    assert rows[3] == ""


def test_strip_html_fuzz_matches_python(spark):
    rnd = random.Random(41)
    words = ["alpha", "beta", "&amp;", "&lt;x&gt;", "q&nbsp;r", "5 &#60; 6"]
    tags = ["<p>", "</p>", "<div class='a'>", "</div>", "<b>", "</b>",
            "<br/>", "<span>", "</span>", "<li>", "</li>",
            "<script>var j=1;</script>", "<style>.c{}</style>",
            "<!-- c -->", "<a href=\"u\">", "</a>"]
    docs = []
    for i in range(150):
        parts = []
        for _ in range(rnd.randint(1, 25)):
            parts.append(rnd.choice(words) if rnd.random() < 0.55 else rnd.choice(tags))
            if rnd.random() < 0.3:
                parts.append(" ")
        docs.append((i, "".join(parts)))
    df = spark.createDataFrame(docs, "id long, html string")
    got = {r["id"]: r["t"] for r in df.select("id", strip_html(F.col("html")).alias("t")).collect()}
    for i, h in docs:
        assert got[i] == _py_strip_html(h), repr(h)


def test_extract_html_text_plan_map_only(spark):
    df = spark.createDataFrame([(1, PAGE)], "id long, html string")
    plan = plan_summary(extract_html_text(df, "html"))
    assert plan["shuffles"] == 0
    assert plan["python_eval"] == 0


def test_extract_then_gate_composes(spark):
    """The ingest composition: strip -> token stats over the EXTRACTED
    text sees words, not markup."""
    from geoscan_fraud_spark.operators.text import token_stats

    df = spark.createDataFrame(
        [(1, "<p>three little words</p><script>var xxxxx=1;</script>")],
        "doc_id long, html string",
    )
    out = token_stats(extract_html_text(df, "html"), text_col="text")
    assert out.first()["n_tokens"] == 3
