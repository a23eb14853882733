"""URL / domain operators — the C4/RefinedWeb-style provenance filters.

Large-corpus recipes filter by WHERE text came from before they look at
the text itself: drop blocklisted domains (C4 used a badwords domain
list; RefinedWeb curates by registered domain), stratify mixtures by
site, and cap any one domain's share. All of that needs two primitives —
parse a URL into host/domain parts, and match hosts against a domain
list INCLUDING subdomains — both expressible as native column algebra.

Scale shape: parsing is a map-only regexp chain (codegen); the
subdomain-aware blocklist match explodes each host into its ancestor
domains (a handful of rows per doc, map-side) and broadcast-joins the
domain list — the corpus never shuffles. No public-suffix database is
embedded (that is a real dependency with churn); `registered_domain`
uses a last-two-labels heuristic with a small common-ccSLD list
(`co.uk`-style), documented as an approximation and overridable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: common "registrable under the third label" suffixes — the heuristic's
#: exception list (extend per deployment; a real PSL has thousands).
CC_SLDS = [
    "co.uk", "ac.uk", "gov.uk", "org.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
    "co.in", "co.kr", "com.tr", "com.ar", "co.za", "com.sg", "com.hk",
]

_HOST_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//?(?:[^/@]*@)?([^/:?#]+).*$"


def url_parts(url_col):
    """Struct column (host, path) parsed from a URL with native regexps —
    scheme and credentials stripped, port excluded, lowercase host."""
    host = F.lower(F.regexp_extract(url_col, _HOST_RE, 1))
    path = F.regexp_extract(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*(/[^?#]*)", 1)
    return F.struct(host.alias("host"), path.alias("path"))


def registered_domain(host_col, cc_slds: list[str] | None = None):
    """Approximate registrable domain of a hostname: the last two labels,
    or three when the last two are a known ccSLD (`CC_SLDS`). Hosts with
    fewer labels pass through unchanged."""
    slds = CC_SLDS if cc_slds is None else cc_slds
    labels = F.split(host_col, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, n - 1, 2))
    last3 = F.concat_ws(".", F.slice(labels, n - 2, 3))
    sld_arr = F.array(*[F.lit(s) for s in slds])
    return F.when(n <= 2, host_col).otherwise(
        F.when(F.array_contains(sld_arr, last2), last3).otherwise(last2)
    )


def extract_url_features(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    cc_slds: list[str] | None = None,
) -> DataFrame:
    """(id, host, domain, path_depth): map-only URL provenance features —
    the stratification/blocking keys a corpus pipeline groups by."""
    p = url_parts(F.col(url_col))
    host = p["host"]
    path = p["path"]
    depth = F.when(
        (path == "") | path.isNull(), F.lit(0)
    ).otherwise(F.size(F.filter(F.split(path, "/"), lambda s: s != "")))
    return df.select(
        F.col(id_col),
        host.alias("host"),
        registered_domain(host, cc_slds).alias("domain"),
        depth.cast("int").alias("path_depth"),
    )


def _ancestor_domains(host_col, max_labels: int = 6):
    """Array of the host's ancestor domains, nearest first:
    'a.b.co.uk' -> ['a.b.co.uk', 'b.co.uk', 'co.uk', 'uk'] (capped at
    ``max_labels`` suffixes — hostnames deeper than that contribute
    their deepest suffixes, which is what a domain blocklist matches)."""
    labels = F.split(host_col, r"\.")
    n = F.size(labels)
    return F.filter(
        F.transform(
            F.sequence(F.lit(0), F.least(n - 1, F.lit(max_labels - 1))),
            lambda i: F.concat_ws(".", F.slice(labels, i + 1, n - i)),
        ),
        lambda d: d != "",
    )


def filter_blocked_domains(
    df: DataFrame,
    blocklist,
    url_col: str = "url",
    id_col: str = "doc_id",
    invert: bool = False,
) -> DataFrame:
    """Drop rows whose URL host is a blocklisted domain OR any subdomain
    of one ('ads.tracker.com' matches a 'tracker.com' entry). Returns
    the surviving rows of ``df`` (``invert=True`` returns the BLOCKED
    rows — the audit view).

    ``blocklist`` is a list of domain strings or a one-column DataFrame.
    Two physical paths (C4's own list is a few thousand domains — the
    recipe's provenance filter ran before any text heuristic):

    - list input: the domains fold into ONE literal array and the match
      is a map-only ``exists(ancestors, d -> array_contains(...))``
      filter — ZERO shuffle, zero joins (plan-asserted). Right for
      curated lists up to ~10^4 entries (the match is a linear scan of
      the literal per ancestor).
    - DataFrame input (large/managed lists): ancestors explode map-side,
      the blocklist broadcast-joins them, and the blocked ids join back
      semi/anti — the only corpus shuffle is that id join, whose right
      side is blocked-ids-only (AQE re-plans it broadcast when small).
    """
    host = url_parts(F.col(url_col))["host"]
    anc = _ancestor_domains(host)
    if not isinstance(blocklist, DataFrame):
        lits = F.array(*[F.lit(d.lower()) for d in blocklist])
        blocked = F.exists(anc, lambda d: F.array_contains(lits, d))
        return df.filter(blocked if invert else ~blocked)
    bl = blocklist.toDF("domain")
    cand = df.select(F.col(id_col), F.explode(anc).alias("domain"))
    hits = cand.join(F.broadcast(bl), "domain", "left_semi").select(id_col)
    how = "left_semi" if invert else "left_anti"
    return df.join(hits.distinct(), id_col, how)
