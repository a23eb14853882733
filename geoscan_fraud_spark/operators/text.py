"""Text analysis — language ID, quality scoring, token stats, winnowing.

Beyond-reference operators (SURVEY §2.10) over the `documents` table; the
reference's own TF-IDF pipeline IS a text pipeline on H3 "words"
(`01_geofraud_clustering.py:380`), so these reuse its algebra. Native
column expressions throughout, with one deliberate exception:
`repetition_stats` is an Arrow `mapInPandas` pass (measured 3.7x an
interpreted-HOF native chain); no row-at-a-time Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: small per-language marker-word profiles (n-gram heuristic degenerates to
#: marker words for whitespace text). Public common-word lists. Latin-script
#: languages only — scripts that whitespace tokenization cannot segment
#: (CJK, Cyrillic, Arabic) are detected by codepoint share instead
#: (`SCRIPT_RANGES`); a pinyin 'zh' word profile could never fire on real
#: unsegmented Chinese text.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"],
}

#: Unicode-script character classes for languages whitespace tokenization
#: cannot see. The patterns contain the literal range endpoints, so the
#: same string works in Java regex (Spark) and RE2 (DuckDB). The language
#: label is the script's dominant language — an explicit approximation
#: (Cyrillic -> 'ru', Arabic script -> 'ar'); kana vs han share separates
#: ja from zh on real Japanese (kana majority) vs Chinese (han only).
SCRIPT_RANGES: dict[str, str] = {
    "zh": "[一-鿿]",  # CJK Unified Ideographs (han)
    "ja": "[぀-ヿ]",  # Hiragana + Katakana
    "ko": "[가-힯]",  # Hangul syllables
    "ru": "[Ѐ-ӿ]",  # Cyrillic
    "ar": "[؀-ۿ]",  # Arabic
}

#: a script fires when its codepoints are at least this share of the
#: document's non-whitespace characters
SCRIPT_SHARE_MIN = 0.3

EN_STOPWORDS = LANG_PROFILES["en"] + ["a", "an", "on", "at", "by", "with", "as"]

#: BPE-ish token pattern: letter runs, digit runs, single punctuation
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text_col):
    return F.split(F.trim(text_col), r"\s+")


def token_count_col(text_col: str = "text"):
    """`token_stats`'s ``n_tokens`` as a bare column expression, for
    map-only attachment to an existing relation: otherwise the ingest
    gate would attach it by inner-joining `token_stats` back onto its
    own input — a shuffle join of two branches of the same
    relation per micro-batch — when the value is a pure function of the
    row. Kept as THE definition token_stats uses, so the two can never
    diverge."""
    return F.size(tokens(F.col(text_col)))


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, n_regex_tokens, n_distinct_tokens, avg_token_len)."""
    tok = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        token_count_col(text_col).alias("n_tokens"),
        # NB: F.lit(pattern), not an F.expr SQL string — SQL single-quoted
        # literals eat the backslash in \s
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_PATTERN), F.lit(0))).alias(
            "n_regex_tokens"
        ),
        F.size(F.array_distinct(tok)).alias("n_distinct_tokens"),
        F.round(
            F.aggregate(
                F.transform(tok, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.size(tok),
            4,
        ).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + composite score in [0, 1]:
    length band, stopword presence, repetition (distinct ratio)."""
    tok = tokens(F.col(text_col))
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n = F.size(tok)
    stop_ratio = F.size(F.filter(tok, lambda t: F.array_contains(stop, t))) / n
    distinct_ratio = F.size(F.array_distinct(tok)) / n
    length_band = F.when((n >= 20) & (n <= 1000), F.lit(1.0)).otherwise(
        F.least(n / F.lit(20.0), F.lit(1.0))
    )
    score = F.round(
        F.lit(0.4) * length_band
        + F.lit(0.3) * F.least(stop_ratio * 5.0, F.lit(1.0))
        + F.lit(0.3) * distinct_ratio,
        4,
    )
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        score.alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, lang_pred, lang_score): script-aware language ID,
    map-only native expressions.

    Two signals, script first: (1) Unicode-script codepoint share —
    the argmax `SCRIPT_RANGES` class, firing when it covers at least
    `SCRIPT_SHARE_MIN` of the non-whitespace characters (whitespace
    tokenization never segments CJK/Cyrillic/Arabic text, so marker
    words are structurally blind there); (2) otherwise the marker-word
    vote over `LANG_PROFILES` (Latin-script languages). ``lang_score``
    is the script character count when the script path fires, else the
    marker overlap count; ties and zero evidence resolve to 'und' via
    score=0 + declaration order. Deterministic."""
    text = F.col(text_col)
    out = df.select(
        F.col(id_col),
        F.length(F.regexp_replace(text, r"\s", "")).alias("__nws"),
        *[
            F.regexp_count(text, F.lit(pat)).alias(f"__sc_{s}")
            for s, pat in SCRIPT_RANGES.items()
        ],
        F.array_distinct(tokens(text)).alias("__tok"),
    )
    best_script, best_sc = F.lit("und"), F.lit(0)
    for s in SCRIPT_RANGES:
        c = F.col(f"__sc_{s}")
        better = c > best_sc
        best_script = F.when(better, F.lit(s)).otherwise(best_script)
        best_sc = F.when(better, c).otherwise(best_sc)
    best_lang, best_score = F.lit("und"), F.lit(0)
    for lang, words in LANG_PROFILES.items():
        prof = F.array(*[F.lit(w) for w in words])
        score = F.size(F.array_intersect(F.col("__tok"), prof))
        better = score > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, score).otherwise(best_score)
    script_fires = (F.col("__nws") > 0) & (
        best_sc.cast("double") / F.col("__nws") >= F.lit(SCRIPT_SHARE_MIN)
    )
    return out.select(
        F.col(id_col),
        F.when(script_fires, best_script).otherwise(best_lang).alias("lang_pred"),
        F.when(script_fires, best_sc).otherwise(best_score).alias("lang_score"),
    )


def _with_winnow_mins(
    df: DataFrame, text_col: str, k: int, window: int, out_col: str
) -> DataFrame:
    """Add ``out_col`` = sorted distinct winnowing window-minima of a
    text column — the shared core of `winnow_fingerprints` (whole-doc
    signature) and `winnow_shared_pairs` (cross-doc shared-substring
    candidates).

    The intermediates are staged as REAL COLUMNS, not nested into one
    expression: Catalyst evaluates any non-trivial subexpression inside
    a higher-order-function lambda PER ELEMENT (lambda bodies are
    interpreted; loop invariants are not hoisted), so the original
    single-expression form re-ran tokens() for every gram position and
    the entire gram+md5 chain for every window position — O(T^2) work
    per document. A bench run through a noop sink exposed it: 180 s for
    5000 sf0.1 docs, where the staged form runs in ~2 s (a bare count()
    column-prunes the whole computation away, so count()-based bench
    numbers never saw it). Staged, each lambda body only touches
    column REFERENCES (cheap per-element row reads); the aliases are
    referenced several times each, so CollapseProject keeps the
    projections materialized instead of re-nesting them."""
    toks, grams, hashes = "__w_toks", "__w_grams", "__w_hashes"
    tc, hc = F.col(toks), F.col(hashes)
    out = df.withColumn(toks, tokens(F.col(text_col)))
    out = out.withColumn(
        grams,
        F.when(
            F.size(tc) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(tc) - k),
                lambda i: F.concat_ws(" ", F.slice(tc, i + 1, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", tc))),
    )
    out = out.withColumn(hashes, F.transform(F.col(grams), F.md5))
    out = out.withColumn(
        out_col,
        F.array_sort(
            F.array_distinct(
                F.when(
                    F.size(hc) >= window,
                    F.transform(
                        F.sequence(F.lit(0), F.size(hc) - window),
                        lambda i: F.array_min(F.slice(hc, i + 1, window)),
                    ),
                ).otherwise(F.array(F.array_min(hc)))
            )
        ),
    )
    return out.drop(toks, grams, hashes)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints: k-gram rolling hashes, keep the
    min per sliding window (Schleimer et al. MOSS scheme).

    Hash = md5 (string compare) so the result is engine-portable; output
    (doc_id, n_fingerprints, fingerprint) where fingerprint is the md5 of
    the sorted distinct mins — a stable whole-document signature.
    """
    staged = _with_winnow_mins(df, text_col, k, window, "__w_mins")
    return staged.select(
        F.col(id_col),
        F.size("__w_mins").alias("n_fingerprints"),
        F.md5(F.concat_ws(",", F.col("__w_mins"))).alias("fingerprint"),
    )


#: PII patterns, applied in order. Deliberately conservative/simple — the
#: point is the pipeline capability (native regexp_replace chain, zero
#: Python in the hot path); a production deployment would swap in its own
#: pattern set via the `patterns` argument.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d[ -]?){13,16}\b", "<CARD>"),
    (r"\b\d{3}[-.\s]?\d{3}[-.\s]?\d{4}\b", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
]


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: list[tuple[str, str]] | None = None,
    out_col: str = "redacted",
) -> DataFrame:
    """(id, redacted, n_redactions) — scrub PII-shaped spans from a text
    column with a chain of native `regexp_replace` calls (JVM regex, whole-
    stage codegen; at 100 TB this is a map-only pass, no shuffle).

    n_redactions counts the spans each pattern actually rewrites — each
    pattern is counted (`regexp_count`) on the text state just before its
    own replacement, so documents that already contain `<EMAIL>`-style
    marker strings do not inflate the count, and a span consumed by an
    earlier pattern is not double-counted by a later one.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    red = F.col(text_col)
    n_redactions = F.lit(0)
    for pat, repl in pats:
        n_redactions = n_redactions + F.regexp_count(red, F.lit(pat))
        red = F.regexp_replace(red, pat, repl)
    return df.select(
        F.col(id_col),
        red.alias(out_col),
        n_redactions.cast("long").alias("n_redactions"),
    )


def blocked_terms_fraction(terms, text_col: str = "text"):
    """Fraction of a document's tokens that appear on a curated
    blocklist (the C4 banned-wordlist stage): lowercase whitespace
    tokens probed against a LITERAL array with `exists` — pure column
    algebra, ZERO shuffle, the same curated-list design as
    `operators/web.filter_blocked_domains`'s literal path (a list that
    a human curates is broadcast-sized by construction; token-level
    matching only — multi-word phrases need a substring rule).
    Empty documents score 0.0."""
    terms = sorted({t.lower() for t in terms})
    if not terms:
        return F.lit(0.0)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    lit_terms = F.array(*[F.lit(t) for t in terms])
    n_blocked = F.size(
        F.filter(toks, lambda t: F.exists(lit_terms, lambda b: b == t))
    )
    return n_blocked.cast("double") / F.greatest(F.size(toks), F.lit(1))


def blocked_terms_rule(
    terms, text_col: str = "text", max_fraction: float = 0.0
):
    """PASS-condition form of `blocked_terms_fraction` for
    `annotate_filter_reasons` / `prepare_training_corpus(quality_rules=
    {..., 'blocked_terms': blocked_terms_rule([...])})`: True when the
    blocked-token share is at or under ``max_fraction`` (the default 0.0
    is C4's any-occurrence-rejects)."""
    return blocked_terms_fraction(terms, text_col) <= F.lit(
        float(max_fraction)
    )


def annotate_filter_reasons(df: DataFrame, rules) -> DataFrame:
    """Quality filtering with an audit trail: adds `reject_reason` — the
    name of the FIRST failing rule (dict order = precedence), or NULL for
    documents that pass every rule.

    ``rules`` maps reason name -> boolean Column that is True when the
    document PASSES. Pure column algebra: map-only, no shuffle, and the
    reason survives into the report so a pipeline can say not just how
    much it dropped but WHY — the audit a production corpus filter needs
    (silent filters skew corpora invisibly).
    """
    reason = None
    for name, passes in rules.items():
        clause = F.when(~passes, F.lit(name))
        reason = clause if reason is None else reason.when(~passes, F.lit(name))
    if reason is None:
        return df.withColumn("reject_reason", F.lit(None).cast("string"))
    return df.withColumn("reject_reason", reason.otherwise(F.lit(None)))


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText rule
    family): for each n in ``ns``, the fraction of n-gram occurrences
    that are repeats (``dup_frac_n``) and the share of the single most
    frequent n-gram (``top_frac_n``). Boilerplate, keyword stuffing and
    templated spam all light these up long before corpus-level dedup
    can see them.

    Map-only and single-pass: NO explode, NO shuffle, NO per-gram
    grouping; documents shorter than n words count as one gram
    (convention shared with `word_grams`), and NULL text behaves like
    EMPTY text (dup 0.0, top 1.0).

    One Arrow `mapInPandas` pass builds the grams and counts their
    multiplicity per document; the RAW ratios go back to Spark, which
    applies `F.round(_, 4)` (HALF_UP on IEEE doubles). Tokenization
    replicates `F.split(_, '\\s+')` exactly: Java's \\s is the ASCII
    class [ \\t\\n\\x0B\\f\\r] and split keeps leading/trailing empty
    strings at limit -1, which is `re.split(r'\\s+', t, flags=re.ASCII)`
    verbatim; the whitespace/null edge cases are pinned in
    test_round12_fixes.py. Catalyst evaluates higher-order-function
    lambdas interpreted, so an equivalent native sort + run-length fold
    paid per-element struct allocation: it measured 6.19 s vs 1.68 s
    (3.7x) for the Arrow pass on 5000 sf0.1 docs under noop forcing.
    """
    import re

    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    ns_t = tuple(int(n) for n in ns)
    raw_names = [
        f"__raw_{p}_{n}" for n in ns_t for p in ("dup_frac", "top_frac")
    ]
    schema = T.StructType(
        [T.StructField(id_field.name, id_field.dataType, id_field.nullable)]
        + [T.StructField(c, T.DoubleType(), True) for c in raw_names]
    )
    ws = re.compile(r"\s+", re.ASCII)

    def batches(it):
        from collections import Counter

        import pandas as pd

        for pdf in it:
            cols: dict[str, list] = {c: [] for c in raw_names}
            for t in pdf[text_col]:
                words = ws.split(t if t is not None else "")
                n_words = len(words)
                for n in ns_t:
                    if n_words >= n:
                        grams = [
                            " ".join(words[i : i + n])
                            for i in range(n_words - n + 1)
                        ]
                    else:
                        grams = [" ".join(words)]
                    total = len(grams)
                    counts = Counter(grams)
                    cols[f"__raw_dup_frac_{n}"].append(
                        (total - len(counts)) / total
                    )
                    cols[f"__raw_top_frac_{n}"].append(
                        max(counts.values()) / total
                    )
            out = {id_field.name: pdf[id_col]}
            for c in raw_names:
                out[c] = pd.Series(cols[c], dtype="float64")
            yield pd.DataFrame(out)

    raw = df.select(id_col, text_col).mapInPandas(batches, schema)
    rounded = []
    for n in ns_t:
        rounded.append(
            F.round(F.col(f"__raw_dup_frac_{n}"), 4).alias(f"dup_frac_{n}")
        )
        rounded.append(
            F.round(F.col(f"__raw_top_frac_{n}"), 4).alias(f"top_frac_{n}")
        )
    return raw.select(F.col(id_field.name), *rounded)


def winnow_shared_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing at least
    ``min_shared`` winnowing fingerprints — approximate SHARED-SUBSTRING
    detection (each shared fingerprint witnesses an identical k-gram
    that both documents' winnowing windows selected; Schleimer et al.'s
    guarantee bounds the longest undetected shared run by k + window).
    This is the niche MinHash misses: two long documents sharing one
    lifted paragraph have near-zero global Jaccard but several shared
    fingerprints.

    Same bucketed shape as every candidate join here: fingerprints
    explode to rows, the self-join is keyed by the (high-cardinality)
    fingerprint hash, and the pair count aggregates map-side.
    ``max_bucket`` drops fingerprints shared by more than that many docs
    BEFORE the self-join (`_cap_buckets` tradeoff) — a fingerprint of
    ubiquitous boilerplate would otherwise go quadratic.
    """
    from geoscan_fraud_spark.operators.dedup import _cap_buckets

    fp = _with_winnow_mins(df, text_col, k, window, "__w_mins").select(
        F.col(id_col).alias("id"),
        F.explode(F.col("__w_mins")).alias("fp"),
    )
    if max_bucket is not None:
        fp = _cap_buckets(fp, ["fp"], max_bucket)
    a = fp.select("fp", F.col("id").alias("id_a"))
    b = fp.select("fp", F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_tokens, entropy): Shannon entropy (nats) of each document's
    token distribution — near zero for keyword-stuffed/templated spam,
    high for natural prose; the quality signal complementing
    `repetition_stats` (which sees adjacency, not distribution).

    Native one-pass form: H = ln N - (1/N)·Σ c·ln c over token counts c,
    computed by sorting the token array and folding run lengths —
    map-only, no explode, no shuffle."""
    toks = F.array_sort(F.split(F.col(text_col), r"\s+"))
    n = F.size(toks)
    clogc = F.aggregate(
        toks,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("s"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(x == acc["prev"], acc["s"])
            .otherwise(
                acc["s"]
                + F.when(
                    acc["run"] > 0,
                    acc["run"].cast("double") * F.log(acc["run"].cast("double")),
                ).otherwise(F.lit(0.0))
            )
            .alias("s"),
        ),
        lambda acc: acc["s"]
        + F.when(
            acc["run"] > 0,
            acc["run"].cast("double") * F.log(acc["run"].cast("double")),
        ).otherwise(F.lit(0.0)),
    )
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.when(
            n > 0, F.round(F.log(n.cast("double")) - clogc / n, 4)
        ).alias("entropy"),
    )


def fit_unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
    lazy: bool = False,
) -> tuple[DataFrame, "float | DataFrame"]:
    """Train an add-alpha-smoothed unigram language model over a corpus:
    returns ``(lm, oov_logp)`` where ``lm`` is (token, logp) with
    ``logp = ln((count + alpha) / (N + alpha * (V + 1)))`` and
    ``oov_logp`` the same formula at count 0 — the probability mass every
    unseen token gets.

    The CCNet-style quality lever (Wenzek et al. 2020 trains KenLM on a
    clean corpus and filters by perplexity): here the model is the
    simplest member of that family, a unigram table, trainable in ONE
    groupBy over the exploded corpus. By default training is an action —
    the totals (N, V) are folded into the plan as literals, the same
    eager-scalar pattern as the tf-idf IDF denominator
    (`operators/tiles.py`). With ``lazy=True`` no job runs at fit time:
    the totals stay a broadcast ONE-ROW relation cross-joined into the
    vocabulary (the interval join's lazy-median pattern,
    `operators/asof.py`), and ``oov_logp`` comes back as a one-row
    DataFrame instead of a float — `perplexity_score` accepts either.
    The returned ``lm`` is a vocabulary-sized relation:
    broadcast-joinable at scoring time, so scoring a 100 TB corpus never
    shuffles the corpus side (see `perplexity_score`). Tokens are
    whitespace-split, empties dropped — matching `token_frequencies`.
    """
    tok = df.select(
        F.explode(F.split(F.col(text_col), r"\s+")).alias("t")
    ).filter(F.col("t") != "")
    cnt = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    if lazy:
        totals_df = cnt.agg(
            (
                F.coalesce(F.sum("c"), F.lit(0)).cast("double")
                + F.lit(float(alpha)) * (F.count(F.lit(1)) + F.lit(1))
            ).alias("__denom")
        )
        lm = cnt.crossJoin(F.broadcast(totals_df)).select(
            "t",
            F.log(
                (F.col("c") + F.lit(float(alpha))) / F.col("__denom")
            ).alias("logp"),
        )
        oov_df = totals_df.select(
            F.log(F.lit(float(alpha)) / F.col("__denom")).alias("oov_logp")
        )
        return lm, oov_df
    totals = cnt.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).first()
    n, v = int(totals["n"] or 0), int(totals["v"] or 0)
    denom = float(n) + float(alpha) * (v + 1)
    import math

    oov_logp = math.log(float(alpha) / denom)
    lm = cnt.select(
        "t",
        F.log((F.col("c") + F.lit(float(alpha))) / F.lit(denom)).alias("logp"),
    )
    return lm, oov_logp


def perplexity_score(
    df: DataFrame,
    lm: DataFrame,
    oov_logp: "float | DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, nll, ppl): score each document under a unigram LM
    from `fit_unigram_lm` — ``nll`` is the mean negative log-probability
    per token (lower = more in-distribution), ``ppl = exp(nll)``.

    The standard LLM-pipeline quality filter: train the LM on a trusted
    slice, drop documents whose perplexity is extreme on either side
    (gibberish scores high; boilerplate/repetition scores suspiciously
    low). Plan shape at 100 TB: explode -> broadcast-hash join against
    the vocabulary-sized ``lm`` (corpus side never shuffles for the
    join) -> one groupBy(id) with map-side partial aggregation — a
    document's tokens start co-partitioned, so the final shuffle moves
    one partial row per (partition, doc). ``nll``/``ppl`` round to 6
    (floating sum order is engine-specific). Empty documents score NULL.
    ``oov_logp`` may be a float (eager fit) or the one-row DataFrame a
    ``fit_unigram_lm(lazy=True)`` returns — the lazy form broadcast
    cross-joins it in, keeping the whole score plan job-free until acted
    on."""
    tok = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("t")
    ).filter(F.col("t") != "")
    if isinstance(oov_logp, DataFrame):
        oov_expr = F.col("oov_logp")
        tok = tok.crossJoin(F.broadcast(oov_logp))
    else:
        oov_expr = F.lit(float(oov_logp))
    scored = tok.join(F.broadcast(lm), "t", "left_outer").select(
        id_col, F.coalesce(F.col("logp"), oov_expr).alias("logp")
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.avg("logp")).alias("__nll"),
    )
    return df.select(id_col).join(agg, id_col, "left_outer").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        F.round(F.col("__nll"), 6).alias("nll"),
        F.round(F.exp(F.col("__nll")), 6).alias("ppl"),
    )


def perplexity_buckets(
    scored: DataFrame,
    ppl_col: str = "ppl",
    by: "str | None" = None,
    cuts: tuple = (1 / 3.0, 2 / 3.0),
    labels: tuple = ("head", "middle", "tail"),
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4): bucket
    documents by perplexity percentile — per ``by`` group (CCNet cuts
    per language) or globally — lower perplexity = more
    in-distribution = ``head``. Appends a ``ppl_bucket`` column; rows
    with NULL perplexity (empty docs) get a NULL bucket.

    Two shuffles total and neither moves the corpus twice: one groupBy
    computing the cut points (by default `percentile_approx` — a
    mergeable KLL-style sketch whose partials combine map-side, the only
    percentile that scales; ``exact=True`` switches to exact
    `percentile` for oracle parity, which collects each group's values
    into its aggregation buffer — fine for boundary tables, never for
    per-doc state), then a BROADCAST join of the per-group boundary row
    back onto the scored corpus — the labeling itself is map-only.
    Boundary convention: bucket i is ppl <= cut_i, final bucket is the
    remainder; ties at a cut land in the lower (better) bucket.
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError(
            f"need len(cuts)+1 labels, got {len(cuts)} cuts / {len(labels)} labels"
        )
    for reserved in ("__cuts", "__by"):
        if reserved in scored.columns:
            raise ValueError(
                f"{reserved!r} is reserved by perplexity_buckets; rename "
                "that column"
            )
    group = [by] if by is not None else []
    pcts = F.array(*[F.lit(float(c)) for c in cuts])
    if exact:
        bounds_agg = F.percentile(F.col(ppl_col), pcts).alias("__cuts")
    else:
        bounds_agg = F.percentile_approx(
            F.col(ppl_col), pcts, F.lit(accuracy)
        ).alias("__cuts")
    bounds = scored.filter(F.col(ppl_col).isNotNull()).groupBy(*group).agg(
        bounds_agg
    )
    if group:
        # NULL-SAFE group match: an equi-join would silently drop the
        # NULL-group bounds row and every NULL-group doc would fall
        # through the label chain to the last bucket regardless of its
        # perplexity — unknown-language docs systematically binned
        # 'tail' under CCNet's per-language cuts
        bounds = bounds.withColumnRenamed(by, "__by")
        out = scored.join(
            F.broadcast(bounds),
            F.col(by).eqNullSafe(F.col("__by")),
            "left_outer",
        ).drop("__by")
    else:
        out = scored.crossJoin(F.broadcast(bounds))
    label = F.lit(labels[-1])
    for i in range(len(cuts) - 1, -1, -1):
        label = F.when(
            F.col(ppl_col) <= F.element_at(F.col("__cuts"), i + 1),
            F.lit(labels[i]),
        ).otherwise(label)
    label = F.when(F.col(ppl_col).isNull(), F.lit(None)).otherwise(label)
    return out.select(*scored.columns, label.alias("ppl_bucket"))


def fit_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
) -> tuple[DataFrame, DataFrame, float]:
    """Train an interpolation-ready bigram language model: returns
    ``(bigrams, unigrams, oov_logp)`` where

      - ``bigrams`` is (w1, w2, p_big) with the add-alpha conditional
        ``p_big = (c(w1,w2) + alpha) / (c1(w1) + alpha * (V + 1))``,
      - ``unigrams`` is (t, p_uni, ctx_denom, av1) carrying the
        add-alpha unigram probability, each token's CONTEXT denominator
        ``c1(t) + alpha * (V + 1)`` (needed to smooth unseen bigrams
        after a known context word), and the constant
        ``av1 = alpha * (V + 1)`` (the unknown-context denominator —
        stored exactly so the scorer never reconstructs it through
        float arithmetic),
      - ``oov_logp`` is the unigram OOV log-mass (also the default
        context denominator for unknown context words is
        ``alpha * (V + 1)``, derivable from it).

    One rung up the CCNet ladder from `fit_unigram_lm` (Wenzek et al.
    train 5-gram KenLM; a smoothed bigram captures local word order —
    shuffled-word salad scores near its unigram perplexity under a
    unigram LM but collapses under a bigram one). Bigram pairs are built
    MAP-SIDE from each document's token array (adjacent zip — no
    cross-document pairs, no corpus shuffle beyond the two count
    aggregations, both vocabulary/bigram-table-sized outputs). Both
    relations are broadcast-joinable at scoring time
    (`bigram_perplexity_score`)."""
    toks = F.split(F.col(text_col), r"\s+")
    tok = df.select(F.explode(toks).alias("t")).filter(F.col("t") != "")
    uni = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    totals = uni.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).first()
    n, v = int(totals["n"] or 0), int(totals["v"] or 0)
    import math

    uni_denom = float(n) + float(alpha) * (v + 1)
    oov_logp = math.log(float(alpha) / uni_denom)

    # adjacent pairs map-side: zip the token array with its own tail
    clean = F.filter(toks, lambda t: t != "")
    pairs = F.zip_with(
        clean,
        F.slice(clean, 2, F.greatest(F.size(clean) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = (
        df.select(F.explode(pairs).alias("p"))
        .filter(F.col("p.w2").isNotNull())
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    unigrams = uni.select(
        "t",
        ((F.col("c") + F.lit(float(alpha))) / F.lit(uni_denom)).alias("p_uni"),
        (F.col("c").cast("double") + F.lit(float(alpha) * (v + 1))).alias(
            "ctx_denom"
        ),
        F.lit(float(alpha) * (v + 1)).alias("av1"),
    )
    bigrams = (
        big.join(
            F.broadcast(
                unigrams.select(F.col("t").alias("w1"), "ctx_denom")
            ),
            "w1",
        )
        .select(
            "w1",
            "w2",
            (
                (F.col("c12") + F.lit(float(alpha))) / F.col("ctx_denom")
            ).alias("p_big"),
        )
    )
    return bigrams, unigrams, oov_logp


def bigram_perplexity_score(
    df: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    oov_logp: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    alpha: float = 0.5,
    broadcast_model: bool = True,
) -> DataFrame:
    """(id, n_tokens, nll, ppl) under the interpolated bigram model:

        P(t_i | t_{i-1}) = lam * P_big(t_i | t_{i-1})
                         + (1 - lam) * P_uni(t_i)

    with the first token scored by its unigram probability. Unseen
    bigrams after a KNOWN context smooth to ``alpha / ctx_denom(w1)``;
    an UNKNOWN context word's denominator is ``alpha * (V + 1)``
    (recovered from ``exp(oov_logp)``: ``alpha / uni_denom`` relates the
    two — the caller passes the same ``alpha``). Unknown current tokens
    take the unigram OOV mass.

    Plan: the (prev, cur) pairs are built map-side from the token array
    (first token paired with NULL context), then THREE broadcast joins —
    bigram table on (w1, w2), context on w1, unigram on w2 — and one
    per-doc aggregation; the corpus never shuffles for any join.
    ``broadcast_model=True`` assumes the CCNet calling convention: the
    model is trained on a curated REFERENCE corpus, so its bigram table
    is bounded. A model trained on a web-scale corpus has billions of
    distinct bigrams — pass ``broadcast_model=False`` there and the
    pair join falls back to a shuffle join (one corpus shuffle, the
    honest cost of a corpus-sized model). ``nll``/``ppl`` round to 6.
    Empty documents score NULL."""
    import math

    # alpha*(V+1) = alpha / exp(oov_logp) * alpha / uni_denom ... simpler:
    # oov_logp = log(alpha / uni_denom) and uni_denom = n + alpha*(V+1);
    # for an unknown context c1 = 0 so ctx_denom = alpha*(V+1). We cannot
    # recover V from oov alone, so carry it via the unigrams relation:
    # ctx_denom - c = alpha*(V+1) for any row; grab it as a one-row
    # broadcast scalar (lazy, no job at build).
    if "av1" in unigrams.columns:
        # the constant was stored exactly at fit time
        a_v1 = unigrams.select(F.min("av1").alias("a_v1"))
    else:
        # legacy model without the stored constant: reconstruct
        # alpha*(V+1) from ctx_denom - c, recovering c from
        # p_uni = (c + alpha)/uni_denom with uni_denom = alpha/exp(oov)
        # (carries ~1e-9 float noise — fine for filtering, not for
        # hash-exact replays)
        uni_denom = float(alpha) / math.exp(float(oov_logp))
        a_v1 = unigrams.select(
            F.min(
                F.col("ctx_denom")
                - (F.col("p_uni") * F.lit(uni_denom) - F.lit(float(alpha)))
            ).alias("a_v1")
        )

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    prevs = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
    )
    pairs = F.zip_with(
        prevs, toks, lambda p, c: F.struct(p.alias("w1"), c.alias("w2"))
    )
    tok = (
        df.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        # empty doc -> one (null, null) pair from the zip padding; drop it
        # so empty documents score NULL, matching perplexity_score
        .filter(F.col("w2").isNotNull())
    )
    hint = F.broadcast if broadcast_model else (lambda d: d)
    scored = (
        tok.join(hint(bigrams), ["w1", "w2"], "left_outer")
        .join(
            hint(
                unigrams.select(
                    F.col("t").alias("w1"), F.col("ctx_denom").alias("cd1")
                )
            ),
            "w1",
            "left_outer",
        )
        .join(
            hint(unigrams.select(F.col("t").alias("w2"), "p_uni")),
            "w2",
            "left_outer",
        )
        .crossJoin(F.broadcast(a_v1))
    )
    p_uni = F.coalesce(F.col("p_uni"), F.lit(math.exp(float(oov_logp))))
    p_big = F.coalesce(
        F.col("p_big"),
        F.lit(float(alpha)) / F.coalesce(F.col("cd1"), F.col("a_v1")),
    )
    logp = F.when(F.col("w1").isNull(), F.log(p_uni)).otherwise(
        F.log(F.lit(float(lam)) * p_big + F.lit(1.0 - float(lam)) * p_uni)
    )
    agg = scored.select(id_col, logp.alias("lp")).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"), (-F.avg("lp")).alias("__nll")
    )
    return df.select(id_col).join(agg, id_col, "left_outer").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        F.round(F.col("__nll"), 6).alias("nll"),
        F.round(F.exp(F.col("__nll")), 6).alias("ppl"),
    )


#: accent-folding table for Latin-1/Latin-Extended-A letters — the cases
#: web text actually contains; a full Unicode NFD pass needs ICU, which
#: the hot path avoids (F.translate is a codegen'd char map).
_ACCENT_SRC = "àáâãäåāăąèéêëēĕėęěìíîïĩīĭįıòóôõöøōŏőùúûüũūŭůűųýÿñçćĉčşšßžźżÀÁÂÃÄÅĀĂĄÈÉÊËĒĔĖĘĚÌÍÎÏĨĪĬĮÒÓÔÕÖØŌŎŐÙÚÛÜŨŪŬŮŰŲÝŸÑÇĆĈČŞŠŽŹŻ"
_ACCENT_DST = "aaaaaaaaaeeeeeeeeeiiiiiiiiiooooooooouuuuuuuuuuyynccccssszzzAAAAAAAAAEEEEEEEEEIIIIIIIIOOOOOOOOOUUUUUUUUUUYYNCCCCSSZZZ"


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_accents: bool = False,
    mask_digits: bool = False,
) -> DataFrame:
    """CCNet-style text normalization as a map-only native-expression
    chain: lowercase, whitespace collapse (+trim), Latin accent folding
    (`F.translate` char map — no ICU dependency), and digit masking
    (every digit -> '0', the CCNet trick that stops numbers exploding
    the LM vocabulary).

    The canonical pre-pass before `fit_unigram_lm` / dedup shingling:
    normalizing first makes 'Foo  Bar' and 'foo bar' the same document
    to every downstream signature. Pure projection — no shuffle, stays
    inside whole-stage codegen; writes ``out_col`` (default: replaces
    ``text_col``)."""
    c = F.col(text_col)
    if strip_accents:
        c = F.translate(c, _ACCENT_SRC, _ACCENT_DST)
    if lowercase:
        c = F.lower(c)
    if mask_digits:
        c = F.regexp_replace(c, "[0-9]", "0")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col or text_col, c)
