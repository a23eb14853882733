"""HTML -> text extraction — the ingest stage upstream of every text
gate (the CommonCrawl/C4 pipelines run exactly this before any quality
heuristic sees a document).

Spark-first shape: ONE map-only chain of native `regexp_replace`
expressions (whole-stage codegen, zero shuffle, zero Python — the same
contract as `text.normalize_text`). The extraction is deliberately a
DETERMINISTIC SPECIFICATION, not a best-effort scraper: a fixed pipeline
of documented rules that an external SQL engine can replay rule-by-rule,
because at 100 TB "which bytes survived
extraction" is a provenance question that must be answerable later.

Rules, in order (each a regex pass):

1. drop ``<script>``/``<style>``/``<head>`` elements with their content
   (case-insensitive, dot-matches-newline) and ``<!-- -->`` comments;
2. block-level closers/openers (p, div, li, tr, h1-h6, br, section,
   article, blockquote, pre, table) become ``\n``;
3. every remaining tag is deleted;
4. the common named entities (&amp; &lt; &gt; &quot; &#39; &nbsp;) and
   DECIMAL numeric references for the same characters decode; other
   entities pass through verbatim (documented limitation — full HTML5
   entity tables are a lookup, not a regex, and the long tail carries no
   signal for quality gating);
5. whitespace canonicalization: runs of spaces/tabs collapse to one
   space, 3+ newlines collapse to a blank line, lines are trimmed, and
   the result is trimmed.

``&amp;`` decodes LAST so ``&amp;lt;`` round-trips to the literal text
``&lt;`` rather than double-decoding to ``<`` (the html.unescape
ordering bug class).

Reference lineage: the reference ingests pre-cleaned CSV transactions
(`01_geofraud_clustering.py:96-104`); web-corpus engines ingest markup —
this is the missing source-side stage, kept native for the same reason
the reference's TF-IDF was rebuilt relationally (SURVEY §2.7 U3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tags whose open/close boundary is a line break in the extracted text
_BLOCK_TAGS = (
    "p|div|li|ul|ol|tr|table|h1|h2|h3|h4|h5|h6|br|section|article|"
    "blockquote|pre|header|footer|nav|figure|figcaption"
)

#: (entity regex, replacement) decode table — &amp; LAST (see module doc)
_ENTITIES = [
    (r"&lt;|&#60;", "<"),
    (r"&gt;|&#62;", ">"),
    (r"&quot;|&#34;", '"'),
    (r"&#39;|&apos;", "'"),
    (r"&nbsp;|&#160;", " "),
    (r"&amp;|&#38;", "&"),
]


def strip_html(html_col: Column) -> Column:
    """string column of HTML -> extracted plain text (the rule pipeline
    in the module doc). Null HTML stays null."""
    c = html_col
    # 1. content-bearing elements drop whole; comments drop
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script\s*>", "")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style\s*>", "")
    c = F.regexp_replace(c, r"(?is)<head\b[^>]*>.*?</head\s*>", "")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", "")
    # 2. block boundaries -> newline (open or close, any attributes)
    c = F.regexp_replace(c, r"(?i)</?(?:" + _BLOCK_TAGS + r")\b[^>]*>", "\n")
    # 3. every remaining tag dies
    c = F.regexp_replace(c, r"(?s)<[^>]*>", "")
    # 4. entity decode (fixed table, &amp; last)
    for pat, rep in _ENTITIES:
        c = F.regexp_replace(c, pat, rep)
    # 5. whitespace canonicalization
    c = F.regexp_replace(c, r"[ \t\r\f]+", " ")      # runs of blanks
    c = F.regexp_replace(c, r" ?\n ?", "\n")          # trim around breaks
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")        # squeeze blank lines
    # full-whitespace trim (F.trim strips only spaces, not newlines)
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def extract_html_text(
    df: DataFrame, html_col: str = "html", out_col: str = "text"
) -> DataFrame:
    """Append ``out_col`` = `strip_html`(html_col). Map-only (zero
    shuffle, zero Python — plan-asserted in tests); drop or keep the raw
    markup yourself, provenance policies differ."""
    return df.withColumn(out_col, strip_html(F.col(html_col)))
