"""Text-analysis operators for the training-data pipeline.

All hot-path functions are native Column expressions (JVM-side regex /
string ops — no Python UDFs), so they run inside whole-stage codegen
over the 10^12-row pages/documents table.  Each has a DuckDB SQL twin
for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"],
}

TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\x0B\f\r]"  # BPE-ish: words or single punct
WORD_SPLIT_RE = r"[ \t\n\x0B\f\r]+"


def token_count(text: Column) -> Column:
    """Number of BPE-ish tokens (word runs + punctuation marks)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)).cast("long")


def dd_token_count(text: str) -> str:
    return f"CAST(len(regexp_extract_all({text}, '{TOKEN_RE}')) AS BIGINT)"


def word_count(text: Column) -> Column:
    return F.size(F.split(F.trim(text), WORD_SPLIT_RE)).cast("long")


def dd_word_count(text: str) -> str:
    # DuckDB single-quoted strings keep backslashes literally
    return f"CAST(len(string_split_regex(trim({text}), '{WORD_SPLIT_RE}')) AS BIGINT)"


def stopword_hits(text: Column, lang: str) -> Column:
    """Occurrences of the language's stopwords (word-boundary matches)."""
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0)).cast("long")


def dd_stopword_hits(text: str, lang: str) -> str:
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return f"CAST(len(regexp_extract_all(lower({text}), '{pat}')) AS BIGINT)"


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of stopword hits ('und' when all
    zero; ties break to the alphabetically first language).

    Closed form — GREATEST + one WHEN per language — so the expression
    grows linearly in len(STOPWORDS); the old fold-style chain embedded
    every previous branch twice per language (3^n tree growth on both
    engines, a plan-size blowup the moment the list is extended)."""
    langs = sorted(STOPWORDS)
    hits = [(lang, stopword_hits(text, lang)) for lang in langs]
    mx = F.greatest(*[h for _, h in hits]) if len(hits) > 1 else hits[0][1]
    expr = F.when(mx == 0, F.lit("und"))
    for lang, h in hits:  # first match wins → alphabetical tie-break
        expr = expr.when(h == mx, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def dd_lang_id(text: str) -> str:
    """DuckDB twin of :func:`lang_id` (same closed form, same
    tie-break)."""
    langs = sorted(STOPWORDS)
    hs = [(lang, dd_stopword_hits(text, lang)) for lang in langs]
    mx = "GREATEST(" + ", ".join(h for _, h in hs) + ")" if len(hs) > 1 else hs[0][1]
    whens = " ".join(f"WHEN {h} = {mx} THEN '{lang}'" for lang, h in hs)
    return f"(CASE WHEN {mx} = 0 THEN 'und' {whens} ELSE 'und' END)"


def quality_score(text: Column) -> Column:
    """Deterministic integer quality score in [0, 100]:
    + length band, + stopword ratio band, - punctuation-heavy penalty.
    Integer arithmetic only → exact oracle parity."""
    n = F.length(text).cast("long")
    words = word_count(text)
    stops = stopword_hits(text, "en")
    punct = F.size(
        F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9_ \t\n\x0B\f\r]"), 0)
    ).cast("long")
    len_band = F.when(n >= 200, 40).when(n >= 50, 25).when(n >= 10, 10).otherwise(0)
    stop_band = F.when(stops * 100 >= words * 20, 30).when(
        stops * 100 >= words * 5, 20
    ).otherwise(5)
    punct_pen = F.when(punct * 100 > n * 20, 20).otherwise(0)
    return (len_band + stop_band - punct_pen + F.lit(30)).cast("long")


def dd_quality_score(text: str) -> str:
    n = f"CAST(length({text}) AS BIGINT)"
    words = dd_word_count(text)
    stops = dd_stopword_hits(text, "en")
    punct = f"CAST(len(regexp_extract_all({text}, '[^A-Za-z0-9_ \\t\\n\\x0B\\f\\r]')) AS BIGINT)"
    len_band = f"(CASE WHEN {n} >= 200 THEN 40 WHEN {n} >= 50 THEN 25 WHEN {n} >= 10 THEN 10 ELSE 0 END)"
    stop_band = f"(CASE WHEN {stops} * 100 >= {words} * 20 THEN 30 WHEN {stops} * 100 >= {words} * 5 THEN 20 ELSE 5 END)"
    punct_pen = f"(CASE WHEN {punct} * 100 > {n} * 20 THEN 20 ELSE 0 END)"
    return f"CAST({len_band} + {stop_band} - {punct_pen} + 30 AS BIGINT)"


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (md5 exists identically in Spark and DuckDB)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"[ \t\n\x0B\f\r]+", " ")
    return F.md5(norm)


def dd_fingerprint(text: str) -> str:
    return f"md5(regexp_replace(lower(trim({text})), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"


# (?i): raw crawl URLs carry upper-case schemes.  The capture is the
# HOST alone: optional userinfo ('user@') is skipped, and the host
# stops at ':' (port), '/', '?' or '#' — so bare-host URLs, path-less
# URLs with query strings, and explicit ports all group under the
# same domain key.  RE2 (DuckDB) and Java (Spark) both accept the
# inline flag and the non-capturing group.
URL_HOST_RE = r"^(?i)https?://(?:[^/?#@]*@)?([^/?#:]+)"


def domain_of(url: Column) -> Column:
    """Registrable host from a crawl URL (native regex — runs inside
    whole-stage codegen over the 10^12-row pages table; URL-keyed
    grouping is the standard crawl-curation dimension: per-domain
    caps, quality priors, spam blocklists).  Matches bare-host URLs
    too ('https://example.com' with no path) — a trailing '/' in the
    pattern would silently bucket every such URL under domain ''.
    Host is lowercased (DNS names are case-insensitive)."""
    return F.lower(F.regexp_extract(url, URL_HOST_RE, 1))


def dd_domain_of(url: str) -> str:
    return f"lower(regexp_extract({url}, '{URL_HOST_RE}', 1))"


# authority stops at '/', '?' or '#': a path-less URL with a query
# ('https://h.com?Token=AbC') must NOT have its case-sensitive query
# lowercased with the host
URL_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"


def url_normalize(url: Column) -> Column:
    """Canonical URL for dedup/grouping: lowercase scheme+host, strip
    fragment, default ports, trailing slash on bare paths; tracking
    query params are OUT OF SCOPE (policy-specific) — this is the
    mechanical normalization every crawl dedup applies first.
    Native expression chain, codegen-friendly.

    The authority is lowercased by CONCAT of lower(prefix) + rest, not
    by a regexp_replace with a dynamic replacement — Java replacement
    strings interpret dollar signs and backslashes (an authority
    containing ``$``, legal per RFC 3986 sub-delims, would throw
    "No group" or substitute a capture group mid-job), and the SQL
    twin's replacement dialect differs; concat has no replacement
    semantics in either engine."""
    auth = F.regexp_extract(url, URL_AUTHORITY_RE, 0)
    u = F.concat(
        F.lower(auth), F.substring(url, F.length(auth) + 1, F.lit(1 << 30))
    )
    u = F.regexp_replace(u, r"#.*$", "")           # fragment
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443([/?]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80([/?]|$)", r"$1$2")
    # empty path canonicalizes to "/": 'h.com' -> 'h.com/',
    # 'h.com?q' -> 'h.com/?q' (WHATWG serialization)
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.-]*://[^/?#]+)(\?|$)", r"$1/$2")
    return u


def dd_url_normalize(url: str) -> str:
    """DuckDB twin of :func:`url_normalize` (same concat-of-lowered-
    authority form — no dynamic replacement strings in either engine —
    then the same fixed regex chain; DuckDB backrefs use \\1)."""
    auth = f"regexp_extract({url}, '{URL_AUTHORITY_RE}', 0)"
    u = f"(lower({auth}) || substr({url}, length({auth}) + 1))"
    u = f"regexp_replace({u}, '#.*$', '')"
    u = f"regexp_replace({u}, '^(https://[^/:?#]+):443([/?]|$)', '\\1\\2')"
    u = f"regexp_replace({u}, '^(http://[^/:?#]+):80([/?]|$)', '\\1\\2')"
    u = f"regexp_replace({u}, '^([a-z][a-z0-9+.-]*://[^/?#]+)(\\?|$)', '\\1/\\2')"
    return u


NGRAM_WORD_RE = "[a-z0-9]+"


def ngrams_col(text: Column, n: int) -> Column:
    """Array of word ``n``-grams (space-joined) from lowercased text —
    native transform/slice over the token array, no UDF.  Empty array
    when the document has fewer than ``n`` words (guards sequence()
    from generating a DESCENDING index range)."""
    words = F.regexp_extract_all(F.lower(text), F.lit(NGRAM_WORD_RE), 0)
    idx = F.sequence(F.lit(1), F.size(words) - (n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def top_ngrams(
    docs: "DataFrame", n: int = 2, k: int = 20, text_col: str = "text"
) -> "DataFrame":
    """Corpus-wide top-``k`` word n-grams — the vocabulary/phrase-stat
    pass of corpus analysis.  Shape at scale: explode → ONE map-side-
    combinable groupBy on the gram, then ``orderBy(...).limit(k)``
    which Spark plans as TakeOrderedAndProject (per-partition partial
    top-k + driver merge of n_partitions × k rows — no global sort
    shuffle).  Count-desc, gram-asc unique ordering keeps the k
    boundary deterministic for the oracle."""
    g = docs.select(F.explode(ngrams_col(F.col(text_col), n)).alias("gram"))
    counts = g.groupBy("gram").agg(F.count("*").alias("n_occurrences"))
    return counts.orderBy(F.desc("n_occurrences"), F.asc("gram")).limit(k)


def dd_top_ngrams(n: int = 2, k: int = 20) -> str:
    """DuckDB twin of :func:`top_ngrams` over documents (1-based
    inclusive list slices; RANGE upper bound exclusive)."""
    return f"""
        WITH words AS (
            SELECT regexp_extract_all(lower(text), '{NGRAM_WORD_RE}') AS w
            FROM documents
        ),
        grams AS (
            SELECT array_to_string(
                     w[CAST(i AS INT):CAST(i + {n - 1} AS INT)], ' '
                   ) AS gram
            FROM words, LATERAL (
                SELECT UNNEST(RANGE(1, len(w) - {n - 2}))
            ) t(i)
            WHERE len(w) >= {n}
        )
        SELECT gram, COUNT(*) AS n_occurrences
        FROM grams GROUP BY 1
        ORDER BY n_occurrences DESC, gram ASC
        LIMIT {k}
    """


def distinct_ngrams_col(text: Column, n: int) -> Column:
    """Per-document DISTINCT n-gram array (set semantics — the unit of
    contamination/coverage checks, where a gram repeating inside one
    document must count once)."""
    return F.array_distinct(ngrams_col(text, n))


def contaminated_docs(
    train: "DataFrame",
    eval_docs: "DataFrame",
    n: int = 4,
    text_col: str = "text",
    doc_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing any word
    ``n``-gram with an evaluation/benchmark set — the standard pre-
    training hygiene pass (an eval answer string leaking into the
    corpus invalidates the benchmark).  Returns ``(doc_col, n_hits)``
    for contaminated docs only, ``n_hits`` = number of DISTINCT
    training-doc grams that appear anywhere in the eval set.

    Scale shape: the eval side is a benchmark suite — tiny (10^5-10^6
    grams) against a 10^12-page corpus — so its distinct grams
    BROADCAST and the corpus side never shuffles for the join; the
    only corpus-keyed exchange is the final map-side-combinable
    groupBy on ``doc_col``, whose input is already filtered to hit
    rows (a sliver of the corpus).  Per-doc grams are deduped BEFORE
    the explode (``array_distinct`` inside the row), so a gram
    repeated within one document costs one probe row, not one per
    occurrence.  Set ``broadcast_eval=False`` for a pathologically
    large eval set (falls back to a shuffled join AQE can re-plan)."""
    from pyspark.sql import DataFrame  # local: keep module import-light

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(doc_col),
            F.explode(distinct_ngrams_col(F.col(text_col), n)).alias("gram"),
        )

    ev = grams(eval_docs).select("gram").distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        grams(train)
        .join(ev, on="gram")
        .groupBy(doc_col)
        .agg(F.count("*").alias("n_hits"))
    )


def dd_contaminated_docs(eval_pred: str, n: int = 4) -> str:
    """DuckDB twin of :func:`contaminated_docs` over ``documents``
    split by ``eval_pred`` (a SQL boolean over the documents columns:
    true rows form the eval set, the rest are training docs)."""
    return f"""
        WITH words AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '{NGRAM_WORD_RE}') AS w
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id, array_to_string(
                     w[CAST(i AS INT):CAST(i + {n - 1} AS INT)], ' '
                   ) AS gram
            FROM words, LATERAL (
                SELECT UNNEST(RANGE(1, len(w) - {n - 2}))
            ) t(i)
            WHERE len(w) >= {n}
        ),
        ev AS (SELECT DISTINCT gram FROM grams WHERE {eval_pred}),
        train AS (SELECT doc_id, gram FROM grams WHERE NOT ({eval_pred}))
        SELECT doc_id, COUNT(*) AS n_hits
        FROM train JOIN ev USING (gram)
        GROUP BY 1
    """


# PII patterns — deliberately dialect-portable (Java regex on Spark,
# RE2 in DuckDB agree on \\d, \\b, bounded quantifiers, and character
# classes; no lookaround, no backrefs — RE2 has neither).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{1,3}-\d{3}-\d{4}"

_PII_CHAIN = [(EMAIL_RE, "<EMAIL>"), (IPV4_RE, "<IP>"), (PHONE_RE, "<PHONE>")]
# necessary-substring gate per pattern: a row without the needle cannot
# match, and contains() is a byte scan ~50x cheaper than running the
# regex engine (measured ~4 us/row per regexp_replace at 60-char rows).
# Most real corpus rows carry no email/phone at all, so the gate
# removes the regex pass for the bulk of the scan; a gated-off replace
# returns its input, which is exactly what an unmatched regex does, so
# output is identical.
_PII_NEEDLES = {EMAIL_RE: "@", IPV4_RE: ".", PHONE_RE: "+"}


def pii_counts(text: Column) -> "tuple[Column, Column, Column]":
    """(n_emails, n_ipv4, n_phones) — native regex counts, codegen-
    resident over the full corpus scan (needle-gated, see
    ``_PII_NEEDLES``).  NULL text counts 0 for every pattern, not
    NULL: the needle gate's ``otherwise(0)`` catches it, so a SQL twin
    must ``COALESCE`` its counts to 0."""
    return tuple(
        F.when(
            text.contains(F.lit(_PII_NEEDLES[pat])),
            F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for pat, _ in _PII_CHAIN
    )


def pii_redact(text: Column) -> Column:
    """Redact emails → IPv4s → phone numbers with fixed placeholder
    tokens (the pre-training privacy scrub).  The chain order is part
    of the contract: email first (its local part may contain digit
    runs an IP/phone pattern could clip mid-match), then IP, then
    phone; replacement tokens contain no pattern-matchable characters,
    so the chain is confluent.  Fixed replacement strings — no ``$``
    / ``\\`` interpretation hazard in either engine.  Each pattern is
    needle-gated (``_PII_NEEDLES``): rows without the necessary
    substring skip that regex pass entirely — same output, since an
    unmatched regexp_replace returns its input unchanged.  The gates
    test the ORIGINAL text, not the running redaction: replacement
    tokens contain no needle characters, so a later stage's input can
    never GAIN a needle the raw text lacked (gating on ``out`` itself
    would also double the expression tree per stage — the
    interpreted-fallback trap)."""
    out = text
    for pat, tok in _PII_CHAIN:
        gated = F.when(
            text.contains(F.lit(_PII_NEEDLES[pat])),
            F.regexp_replace(out, pat, tok),
        )
        out = F.coalesce(gated, out)
    return out


def dd_pii_redact(text: str) -> str:
    out = text
    for pat, tok in _PII_CHAIN:
        out = f"regexp_replace({out}, '{pat}', '{tok}', 'g')"
    return out


def pii_scrub_with_counts(
    text: Column,
) -> "tuple[Column, Column, Column, Column]":
    """(redacted, n_emails, n_ips, n_phones) in ONE regex sweep.

    Counts are derived from the REDACTED string by literal placeholder-
    token occurrence counting (native ``replace``, no regex) — Catalyst
    has no common-subexpression elimination ACROSS the count and redact
    regex chains, so counting raw text separately re-runs all three
    patterns (measured 8.0s vs 4.8s at 20M rows/32 cores; within one
    Project the shared redaction subtree IS eliminated, so the chain
    runs once here).  The length-difference division is exact (the diff
    is a multiple of the token length by construction).  Caveat: input
    text already containing a literal placeholder token inflates that
    token's count — use :func:`pii_counts` on the raw text when inputs
    are not placeholder-free."""
    red = pii_redact(text)
    counts = tuple(
        (
            (F.length(red) - F.length(F.replace(red, F.lit(tok), F.lit(""))))
            / len(tok)
        ).cast("long")
        for _, tok in _PII_CHAIN
    )
    return (red, *counts)


def dd_pii_scrub_with_counts(red: str) -> "tuple[str, str, str]":
    """DuckDB count twins over an already-redacted expression ``red``
    (mirror the Spark double-division-then-cast exactly)."""
    return tuple(
        f"CAST((length({red}) - length(replace({red}, '{tok}', '')))"
        f" / {len(tok)} AS BIGINT)"
        for _, tok in _PII_CHAIN
    )


REP_BPS_SCALE = 10_000


def repetition_stats(
    docs: "DataFrame",
    n: int = 2,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Per-document repetition quality signals (the Gopher-rule family,
    Rae et al. 2021 §A1.1 — public): duplicate-n-gram fraction and
    top-n-gram mass, in exact basis points.  Boilerplate / template /
    SEO-spam pages score high and get filtered before training.

    Returns ``(doc_col, n_grams, dup_gram_bps, top_gram_bps)`` where
    ``dup_gram_bps = (n_grams - n_distinct) · 10^4 DIV n_grams`` and
    ``top_gram_bps = top_count · 10^4 DIV n_grams``.  Documents with
    fewer than ``n`` words yield no grams and are absent (no quality
    signal, not a zero).

    Scale shape: one explode, then TWO map-side-combinable groupBys —
    (doc, gram) counts collapse within each map task, and the per-doc
    rollup is keyed by the same leading column so AQE coalesces
    cheaply; no window, no per-doc sort.  Integer arithmetic only →
    exact oracle parity."""
    from .skew import widen_input

    g = widen_input(docs.select(F.col(doc_col), F.col(text_col))).select(
        F.col(doc_col), F.explode(ngrams_col(F.col(text_col), n)).alias("gram")
    )
    per = g.groupBy(doc_col, "gram").agg(F.count("*").alias("c"))
    agg = per.groupBy(doc_col).agg(
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    return agg.select(
        doc_col,
        "n_grams",
        F.expr(
            f"(n_grams - n_distinct) * {REP_BPS_SCALE} DIV n_grams"
        ).alias("dup_gram_bps"),
        F.expr(f"top_count * {REP_BPS_SCALE} DIV n_grams").alias(
            "top_gram_bps"
        ),
    )


def dd_repetition_stats(n: int = 2) -> str:
    """DuckDB twin of :func:`repetition_stats` over ``documents``
    (SUM over BIGINT is HUGEINT in DuckDB — cast back before the
    bps arithmetic so the integer division matches Spark's int64)."""
    return f"""
        WITH words AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '{NGRAM_WORD_RE}') AS w
            FROM documents
        ),
        grams AS (
            SELECT doc_id, array_to_string(
                     w[CAST(i AS INT):CAST(i + {n - 1} AS INT)], ' '
                   ) AS gram
            FROM words, LATERAL (
                SELECT UNNEST(RANGE(1, len(w) - {n - 2}))
            ) t(i)
            WHERE len(w) >= {n}
        ),
        per AS (
            SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2
        ),
        agg AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_grams,
                   COUNT(*) AS n_distinct,
                   MAX(c) AS top_count
            FROM per GROUP BY 1
        )
        SELECT doc_id, n_grams,
               (n_grams - n_distinct) * {REP_BPS_SCALE} // n_grams
                   AS dup_gram_bps,
               top_count * {REP_BPS_SCALE} // n_grams AS top_gram_bps
        FROM agg
    """


TFIDF_SCALE = 10_000

_TFIDF_POOL = None  # created lazily to avoid an import cycle


def tfidf_top_terms(
    docs: "DataFrame",
    k: int = 10,
    text_col: str = "text",
    group_col: str = "lang",
    doc_col: str = "doc_id",
    n_docs: "int | None" = None,
    docs_unique: bool = True,
) -> "DataFrame":
    """Top-``k`` distinguishing terms per group by tf-idf — the
    vocabulary-profile pass of corpus analysis (what characterizes each
    language/domain slice).

    The score is the LINEAR tf-idf rational ``tf · N_docs · 10^4 DIV
    df`` in exact integer arithmetic: a transcendental ``log`` idf
    would be the textbook form but makes cross-engine hashing fragile
    (libm vs StrictMath can differ in the last ulp right at a rounding
    boundary) and changes only the ranking's contrast, not its order
    for fixed tf.  Int64 bound: the product overflows past
    ``tf · N_docs > 9.2e14`` — under ANSI mode (on in this engine and
    in DuckDB) that RAISES rather than silently wrapping; past that
    corpus scale switch to a double ``log`` idf (identical plan shape).

    Shapes: ONE explode + map-side-combinable (doc, group, term) count,
    cached (pooled persist — Catalyst has no common-subplan
    elimination, so deriving tf and df from the raw explode would run
    the tokenize+explode pass twice); tf and df are then
    term-cardinality aggregates off that intermediate, joined on term
    (AQE picks the strategy — the vocabulary is NOT forced broadcast:
    distinct-token counts reach 10^8+ on web corpora); two-phase top-k
    tail.

    ``n_docs`` sizing: pass the corpus size when known.  When omitted
    and ``docs`` is one-row-per-document (``docs_unique``, the shape of
    every corpus table here), the count comes from Parquet footer
    metadata when the plan is a plain file scan — ZERO Spark jobs (the
    same bounded-sizing rule as ``embed.ivf_index``; at 10^12 docs a
    sizing pass is itself a full corpus scan) — falling back to a
    ``count()`` (no shuffle) for non-file plans.  Only
    ``docs_unique=False`` (true multi-row-per-doc sources) pays the
    ``distinct().count()`` shuffle."""
    from .cachepool import CachePool
    from .topk import topk_per_key

    global _TFIDF_POOL
    if _TFIDF_POOL is None:
        _TFIDF_POOL = CachePool()
    _TFIDF_POOL.new_generation()

    words = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(NGRAM_WORD_RE), 0
    )
    per_doc = _TFIDF_POOL.add(
        docs.select(
            F.col(doc_col), F.col(group_col).alias("group"),
            F.explode(words).alias("term"),
        )
        .groupBy(doc_col, "group", "term")
        .agg(F.count("*").alias("tf_doc"))
        .persist()
    )
    tf = per_doc.groupBy("group", "term").agg(F.sum("tf_doc").alias("tf"))
    # count_distinct, NOT count(*): per_doc is keyed (doc, group, term),
    # so a doc id appearing under two group values would double-count
    # into df with a bare row count — the oracle twin's
    # COUNT(DISTINCT doc_id) semantics hold for any input this way
    df_rel = per_doc.groupBy("term").agg(
        F.count_distinct(F.col(doc_col)).alias("df")
    )
    if n_docs is None:
        from .embed import _footer_row_count

        if docs_unique:
            # exact=True: an upper-bound footer count (filtered scan)
            # is fine for SIZING a sample but would silently change
            # tf-idf scores — only a plan whose count equals count()
            # may skip the job
            n_docs = _footer_row_count(docs, exact=True)
            if n_docs is None:
                n_docs = docs.count()
        else:
            n_docs = docs.select(doc_col).distinct().count()
    scored = tf.join(df_rel, on="term").withColumn(
        "score",
        F.expr(f"tf * {n_docs} * {TFIDF_SCALE} DIV df"),
    )
    return topk_per_key(
        scored,
        keys=["group"],
        order=[-F.col("score"), F.col("term")],
        payload=["term", "tf", "score"],
        k=k,
    )


def dd_tfidf_top_terms(k: int = 10) -> str:
    """DuckDB twin of :func:`tfidf_top_terms` over documents/lang."""
    return f"""
        WITH terms AS (
            SELECT doc_id, lang AS "group", UNNEST(
                regexp_extract_all(lower(text), '{NGRAM_WORD_RE}')
            ) AS term
            FROM documents
        ),
        tf AS (
            SELECT "group", term, COUNT(*) AS tf
            FROM terms GROUP BY 1, 2
        ),
        dfr AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df
            FROM terms GROUP BY 1
        ),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
            SELECT tf."group", tf.term, tf.tf,
                   (tf.tf * n.n_docs * {TFIDF_SCALE}) // dfr.df AS score
            FROM tf JOIN dfr USING (term), n
        )
        SELECT "group", rank, term, tf, score FROM (
            SELECT "group", term, tf, score,
                   ROW_NUMBER() OVER (
                     PARTITION BY "group" ORDER BY score DESC, term ASC
                   ) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


_BOILER_POOL = None  # created lazily (mirrors _TFIDF_POOL)


def remove_boilerplate_lines(
    docs: "DataFrame",
    doc_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 1,
    sep: str = "\n",
    broadcast_max_rows: int = 2_000_000,
) -> "DataFrame":
    """Corpus-level line deduplication (the C4 / RefinedWeb boilerplate
    rule — Raffel et al. 2020 §2.2, Penedo et al. 2023 §4.2, public):
    a line that occurs in MORE THAN ``max_doc_freq`` distinct documents
    is boilerplate (cookie banners, nav bars, copyright footers) and is
    dropped from every document; surviving lines keep their original
    order and intra-document duplicates.

    Returns ``(doc_col, clean_text, n_lines_kept, n_lines_removed)``
    — one row per input document, ``clean_text = ''`` when everything
    was boilerplate.

    Scale shape: the line-frequency side explodes PER-DOC-DISTINCT
    lines (``array_distinct`` before the explode, so a doc repeating
    its own line counts once — document frequency, not term frequency)
    into ONE map-side-combinable groupBy; the boilerplate relation is
    persisted (pooled) and size-probed — at/below
    ``broadcast_max_rows`` it broadcasts (hash probe per line, the
    exploded corpus never shuffles for the membership test), above it
    the join shuffles keyed by line (the safe branch; same rule as
    ``embed.restrict_to_ids``).  The rebuild is the ONE unavoidable
    corpus-scale shuffle: groupBy(doc) with collect_list over
    when(kept) — NULLs (removed lines) are skipped by collect_list, so
    all-boilerplate docs still emit a row.  Skew is bounded by the
    largest single document, not by line popularity.

    Note: empty lines ('') are counted like any other — a frequent
    blank line IS removed (blank-run collapse, usually wanted).  ``sep``
    must be a literal string (regex-escaped internally)."""
    import re as _re

    from .cachepool import CachePool

    global _BOILER_POOL
    if _BOILER_POOL is None:
        _BOILER_POOL = CachePool()
    _BOILER_POOL.new_generation()

    lines = F.split(F.col(text_col), _re.escape(sep))
    per_doc = docs.select(
        F.col(doc_col), F.explode(F.array_distinct(lines)).alias("line")
    )
    boiler = (
        per_doc.groupBy("line")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("doc_freq") > max_doc_freq)
        .select("line", F.lit(True).alias("_boiler"))
    )
    boiler = _BOILER_POOL.add(boiler.persist())
    n_boiler = boiler.count()
    rhs = F.broadcast(boiler) if n_boiler <= broadcast_max_rows else boiler
    flagged = docs.select(
        F.col(doc_col), F.posexplode(lines).alias("pos", "line")
    ).join(rhs, on="line", how="left")
    kept = F.col("_boiler").isNull()
    return flagged.groupBy(doc_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(kept, F.struct("pos", "line")))
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.when(kept, F.lit(1))).alias("n_lines_kept"),
        F.count("_boiler").alias("n_lines_removed"),
    )


def dd_remove_boilerplate_lines(
    text_expr: str = "text", max_doc_freq: int = 1
) -> str:
    """DuckDB twin of :func:`remove_boilerplate_lines` over
    ``documents`` (newline separator; indexed list_transform gives the
    pos the ordered string_agg rebuilds by)."""
    return (
        f"WITH ls AS (SELECT doc_id, string_split({text_expr}, chr(10)) AS arr"
        " FROM documents),"
        " ex AS (SELECT doc_id, UNNEST(list_transform(arr,"
        " (x, i) -> {'pos': i, 'line': x}), recursive := true) FROM ls),"
        " boiler AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM ex)"
        f" GROUP BY line HAVING COUNT(*) > {max_doc_freq})"
        " SELECT doc_id,"
        " COALESCE(string_agg(CASE WHEN line NOT IN (SELECT line FROM boiler)"
        " THEN line END, chr(10) ORDER BY pos), '') AS clean_text,"
        " COUNT(CASE WHEN line NOT IN (SELECT line FROM boiler) THEN 1 END)"
        " AS n_lines_kept,"
        " COUNT(CASE WHEN line IN (SELECT line FROM boiler) THEN 1 END)"
        " AS n_lines_removed"
        " FROM ex GROUP BY doc_id"
    )


# ---------------------------------------------------------------------------
# unigram-LM surprisal score (CCNet-style perplexity-proxy quality signal)
# ---------------------------------------------------------------------------

_SURP_POOL = None  # created lazily (mirrors _TFIDF_POOL)
SURP_SCALE = 10_000  # basis points


def _ilog2(c: Column) -> Column:
    """Exact integer floor(log2(x)) for x >= 1: binary-digit count - 1.
    Transcendental-free, so the oracle twin (length(bin(x)) - 1) is
    bit-identical — the same hashing rationale as tfidf_top_terms'
    linear idf."""
    return (F.length(F.bin(c)) - 1).cast("long")


def unigram_surprisal(
    docs: "DataFrame",
    lm: "DataFrame | None" = None,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> "DataFrame":
    """Per-document mean unigram surprisal, the LM-free stand-in for a
    CCNet/KenLM perplexity filter: score each token by how rare it is
    in the reference corpus, average per document.

    ``surprisal(t) = ilog2(T) - ilog2(c_t)`` (integer bits: total token
    count over term count — floor(-log2 p(t)) up to one bit), and the
    document score is the tf-weighted mean in basis points:
    ``(10^4 * sum_t tf * s_t) DIV n_tokens``.  Low = stopword-heavy
    boilerplate; high = rare-token-dense (gibberish, codes, other
    languages).  All integer arithmetic — exact cross-engine.

    ``lm``: optional external reference model, a (term, c) DataFrame
    (e.g. built once from a trusted corpus slice and reused); None fits
    the self-LM from ``docs``.  Out-of-vocabulary tokens score as
    count 1 (maximum surprisal) via the left join's coalesce — with the
    self-LM that path is unreachable (every token is in the LM).
    Documents with zero tokens are dropped (no defined mean).

    Shapes at corpus scale: one explode into a map-side-combinable
    (doc, term, tf) count (pooled persist — tf and the self-LM both
    derive from it, and Catalyst has no common-subplan elimination),
    the LM term relation aggregates off it, the total is a one-row
    broadcast cross join, and the per-doc tail is one combinable
    groupBy(doc).  The term join is left to AQE, NOT forced broadcast
    (web vocabularies reach 10^8 terms).
    """
    from .cachepool import CachePool

    global _SURP_POOL
    if _SURP_POOL is None:
        _SURP_POOL = CachePool()
    _SURP_POOL.new_generation()

    words = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(NGRAM_WORD_RE), 0
    )
    per_doc = _SURP_POOL.add(
        docs.select(F.col(doc_col), F.explode(words).alias("term"))
        .groupBy(doc_col, "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    if lm is None:
        lm = per_doc.groupBy("term").agg(F.sum("tf").alias("c"))
    total = lm.agg(F.sum("c").alias("__t"))
    scored = (
        per_doc.join(lm, on="term", how="left")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__s",
            _ilog2(F.col("__t")) - _ilog2(F.coalesce(F.col("c"), F.lit(1))),
        )
    )
    return (
        scored.groupBy(doc_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("__s")).alias("__bits"),
        )
        .select(
            doc_col,
            "n_tokens",
            F.expr(f"__bits * {SURP_SCALE} DIV n_tokens").alias("surprisal_bp"),
        )
    )


def dd_unigram_surprisal() -> str:
    """DuckDB twin of :func:`unigram_surprisal` (self-LM over documents)."""
    return f"""
        WITH toks AS (
            SELECT doc_id, UNNEST(
                regexp_extract_all(lower(text), '{NGRAM_WORD_RE}')
            ) AS term
            FROM documents
        ),
        per_doc AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ),
        lm AS (SELECT term, SUM(tf) AS c FROM per_doc GROUP BY 1),
        tot AS (SELECT SUM(c) AS t FROM lm)
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(
                 (SUM(tf * ((length(bin(t)) - 1) - (length(bin(c)) - 1)))
                  * {SURP_SCALE}) // SUM(tf)
                 AS BIGINT
               ) AS surprisal_bp
        FROM per_doc JOIN lm USING (term), tot
        GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# hashed-feature linear classifier (fasttext-style curation scorer)
# ---------------------------------------------------------------------------

CLF_BUCKETS = 1 << 16


def hashed_features(
    docs: "DataFrame",
    text_col: str = "text",
    doc_col: str = "doc_id",
    n_buckets: int = CLF_BUCKETS,
) -> "DataFrame":
    """(doc, feature_id, tf): hashed unigram + bigram counts — the
    fasttext-style feature extraction for linear text classifiers.
    Feature ids are md5-prefix hashes (dedup._h64, cross-engine exact)
    mod ``n_buckets``; one explode into a map-side-combinable count."""
    from .dedup import _h64

    text = F.col(text_col)
    grams = F.concat(
        F.regexp_extract_all(F.lower(text), F.lit(NGRAM_WORD_RE), 0),
        ngrams_col(text, 2),
    )
    from .skew import widen_input

    return (
        widen_input(docs.select(F.col(doc_col), F.col(text_col)))
        .select(F.col(doc_col), F.explode(grams).alias("gram"))
        .select(doc_col, (_h64(F.col("gram")) % n_buckets).alias("fid"))
        .groupBy(doc_col, "fid")
        .agg(F.count("*").alias("tf"))
    )


def linear_classifier_score(
    docs: "DataFrame",
    weights: "DataFrame",
    bias: int = 0,
    text_col: str = "text",
    doc_col: str = "doc_id",
    n_buckets: int = CLF_BUCKETS,
) -> "DataFrame":
    """Linear classifier over hashed n-gram features — the quality /
    topic / educational-value scorer of curation pipelines (a trained
    fasttext-style model reduced to its inference pass).

    ``weights``: (fid, w) with INTEGER fixed-point weights (train in
    floats, quantize once — inference then hashes bit-identically
    cross-engine; this is the tfidf/surprisal exactness rationale).
    Sparse models are fine: missing fids weigh 0 via the left join's
    coalesce.  Output per doc: ``n_feats`` (feature instances),
    ``margin = bias * n_feats + sum(tf * w)`` — the UNnormalized
    decision value (same sign as the mean-normalized form, no integer
    division), and ``label = margin > 0``.

    Scale: explode → map-side-combinable (doc, fid, tf) count; the
    weight join keys on fid against a table bounded by ``n_buckets``
    (fasttext uses 2^21) — small enough that AQE broadcasts it; the
    tail is one combinable groupBy(doc).  Docs with zero features are
    dropped (no tokens — nothing to classify).
    """
    feats = hashed_features(docs, text_col, doc_col, n_buckets)
    scored = feats.join(weights, on="fid", how="left").withColumn(
        "__w", F.coalesce(F.col("w"), F.lit(0).cast("long"))
    )
    return (
        scored.groupBy(doc_col)
        .agg(
            F.sum("tf").alias("n_feats"),
            F.sum(F.col("tf") * F.col("__w")).alias("__dot"),
        )
        .select(
            doc_col,
            "n_feats",
            (F.lit(int(bias)) * F.col("n_feats") + F.col("__dot")).alias(
                "margin"
            ),
            (
                F.lit(int(bias)) * F.col("n_feats") + F.col("__dot") > 0
            ).alias("label"),
        )
    )


def synth_clf_weights(spark, n_buckets: int = CLF_BUCKETS) -> "DataFrame":
    """Deterministic stand-in weight table (Lehmer-style scramble into
    [-1000, 1000]) — the test/bench model; production passes trained,
    quantized weights."""
    from pyspark.sql import functions as F2

    return spark.range(n_buckets).select(
        F2.col("id").alias("fid"),
        ((F2.col("id") * 2654435761) % 2001 - 1000).alias("w"),
    )


def dd_linear_classifier_score(bias: int = 0, n_buckets: int = CLF_BUCKETS) -> str:
    """DuckDB twin of :func:`linear_classifier_score` with the
    :func:`synth_clf_weights` model over documents."""
    from .dedup import dd_h64

    return f"""
        WITH words AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '{NGRAM_WORD_RE}') AS ws
            FROM documents
        ),
        grams AS (
            SELECT doc_id, UNNEST(ws) AS gram FROM words
            UNION ALL
            SELECT doc_id,
                   array_to_string(ws[CAST(i AS INT):CAST(i + 1 AS INT)], ' ')
            FROM words, LATERAL (SELECT UNNEST(RANGE(1, len(ws)))) t(i)
            WHERE len(ws) >= 2
        ),
        feats AS (
            SELECT doc_id, ({dd_h64('gram')}) % {n_buckets} AS fid,
                   COUNT(*) AS tf
            FROM grams GROUP BY 1, 2
        ),
        wt AS (
            SELECT i AS fid, ((i * 2654435761) % 2001) - 1000 AS w
            FROM range(0, {n_buckets}) t(i)
        )
        SELECT f.doc_id,
               CAST(SUM(f.tf) AS BIGINT) AS n_feats,
               CAST({bias} * SUM(f.tf) + SUM(f.tf * COALESCE(w.w, 0)) AS BIGINT)
                 AS margin,
               ({bias} * SUM(f.tf) + SUM(f.tf * COALESCE(w.w, 0))) > 0 AS label
        FROM feats f LEFT JOIN wt w USING (fid)
        GROUP BY f.doc_id
    """


# ---------------------------------------------------------------------------
# cross-document shared-passage mining (exact repeated-substring dedup)
# ---------------------------------------------------------------------------

_PASSAGE_POOL = None  # created lazily (mirrors _TFIDF_POOL)


def gram_doc_freq(
    docs: "DataFrame",
    n: int = 8,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> "DataFrame":
    """``(gram, df)`` with df = COUNT(DISTINCT doc) for every word
    ``n``-gram — the frequency relation behind
    :func:`shared_passages`' ``max_df`` cap AND
    :func:`capped_gram_stats`' audit row.  Compute (or checkpoint) it
    ONCE and pass it to both via their ``gram_freq=`` params — the
    corpus pipeline does this so the docs-scale explode + distinct agg
    never runs twice for one passage pass."""
    from .skew import widen_input

    g = widen_input(docs.select(F.col(doc_col), F.col(text_col))).select(
        F.col(doc_col).alias("doc"),
        F.explode(ngrams_col(F.col(text_col), n)).alias("gram"),
    )
    return g.groupBy("gram").agg(F.count_distinct("doc").alias("df"))


def shared_passages(
    docs: "DataFrame",
    n: int = 8,
    min_len: int = 16,
    text_col: str = "text",
    doc_col: str = "doc_id",
    max_df: "int | None" = None,
    gram_freq: "DataFrame | None" = None,
) -> "DataFrame":
    """Maximal cross-document shared word passages of >= ``min_len``
    tokens — the distributed form of exact-substring dedup (the
    suffix-array pass of Lee et al. 2022, re-expressed relationally):

    1. position-indexed word ``n``-grams per doc (one explode),
    2. gram self-join (doc_a < doc_b) — only grams SHARED across docs
       survive, so the join is an inverted-index probe, not all-pairs,
    3. matches at the same diagonal ``pos_a - pos_b`` that run on
       consecutive positions are one contiguous passage: classic
       gaps-and-islands (island id = pos_a - row_number over the
       (a, b, diag) partition), grouped to spans of
       ``run + n - 1`` tokens.

    Output: doc_a, doc_b, start_a, start_b (1-based token positions),
    len_tokens.  Exact: every maximal shared passage >= min_len is
    reported once.

    Scale: the join fans out on gram FREQUENCY — ``max_df`` drops grams
    seen in more than that many documents (the jaccard_pairs
    posting-list cap; at web scale ultra-common grams are exactly the
    boilerplate a separate pass removes, but the default None keeps the
    operator exact).  The island window partitions by (a, b, diag) —
    bounded by each PAIR's shared content, never a global sort.
    """
    from pyspark.sql import Window

    from .cachepool import CachePool

    global _PASSAGE_POOL
    if _PASSAGE_POOL is None:
        _PASSAGE_POOL = CachePool()

    if min_len < n:
        # a passage shorter than n tokens produces no n-gram match at
        # all, so min_len < n would silently under-report instead of
        # honoring the "every maximal passage >= min_len" contract
        raise ValueError(
            f"min_len ({min_len}) must be >= n ({n}): passages shorter "
            "than the gram width are undetectable by n-gram matching"
        )
    from .skew import widen_input

    grams = ngrams_col(F.col(text_col), n)
    g = widen_input(docs.select(F.col(doc_col), F.col(text_col))).select(
        F.col(doc_col).alias("doc"),
        F.posexplode(grams).alias("pos0", "gram"),
    ).select("doc", (F.col("pos0") + 1).alias("pos"), "gram")
    if max_df is not None:
        freq = (
            gram_freq
            if gram_freq is not None
            else gram_doc_freq(docs, n, text_col, doc_col)
        )
        keep = freq.filter(F.col("df") <= max_df).select("gram")
        g = g.join(keep, on="gram", how="leftsemi")
    # the gram relation feeds BOTH sides of the inverted-index self-join
    # and Catalyst has no common-subplan elimination — without a persist
    # barrier the docs-scale tokenize + posexplode executes twice (plan
    # audit: two Scan->Generate subtrees, measured ~2s of the query at
    # sf0.1).  Pooled so repeated calls retire old generations' blocks.
    _PASSAGE_POOL.new_generation()
    g = _PASSAGE_POOL.add(g.persist())
    a = g.select(
        F.col("gram"), F.col("doc").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = g.select(
        F.col("gram"), F.col("doc").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    m = a.join(b, on="gram").filter(F.col("doc_a") < F.col("doc_b"))
    m = m.select(
        "doc_a", "doc_b", "pos_a", "pos_b",
        (F.col("pos_a") - F.col("pos_b")).alias("diag"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = m.withColumn(
        "island", F.col("pos_a") - F.row_number().over(w)
    )
    spans = (
        isl.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count("*") + (n - 1)).alias("len_tokens"),
        )
        .filter(F.col("len_tokens") >= min_len)
    )
    return spans.select("doc_a", "doc_b", "start_a", "start_b", "len_tokens")


def capped_gram_stats(
    docs: "DataFrame | None" = None,
    n: int = 8,
    max_df: "int | None" = None,
    text_col: str = "text",
    doc_col: str = "doc_id",
    gram_freq: "DataFrame | None" = None,
) -> "DataFrame":
    """One-row audit of what a :func:`shared_passages` ``max_df`` cap
    drops: the count of distinct ``n``-grams whose document frequency
    exceeds the cap, and the highest doc-frequency seen.  Same
    tokenization and same COUNT(DISTINCT doc) frequency definition as
    the cap itself, so the number is exactly the set of grams the cap
    silences.  The corpus pipeline surfaces this so a capped passage
    pass is never a silent truncation.  Returns
    ``(n_capped_grams, max_doc_freq)``; zero/zero when ``max_df`` is
    None (nothing dropped — exact mode)."""
    per_gram = (
        gram_freq
        if gram_freq is not None
        else gram_doc_freq(docs, n, text_col, doc_col)
    )
    dropped = (
        per_gram.filter(F.col("df") > max_df)
        if max_df is not None
        else per_gram.filter(F.lit(False))
    )
    return dropped.agg(
        F.count(F.lit(1)).alias("n_capped_grams"),
        F.coalesce(F.max("df"), F.lit(0)).cast("long").alias("max_doc_freq"),
    )


def dd_capped_gram_stats(n: int = 8, max_df: "int | None" = None) -> str:
    """DuckDB twin of :func:`capped_gram_stats` over documents (same
    words/grams CTEs as dd_shared_passages)."""
    cond = f"__df > {max_df}" if max_df is not None else "FALSE"
    return f"""
        WITH words AS (
            SELECT doc_id AS doc,
                   regexp_extract_all(lower(text), '{NGRAM_WORD_RE}') AS ws
            FROM documents
        ),
        grams0 AS (
            SELECT doc,
                   array_to_string(
                     ws[CAST(i AS INT):CAST(i + {n - 1} AS INT)], ' '
                   ) AS gram
            FROM words, LATERAL (
                SELECT UNNEST(RANGE(1, len(ws) - {n - 2}))
            ) t(i)
            WHERE len(ws) >= {n}
        ),
        per_gram AS (
            SELECT gram, COUNT(DISTINCT doc) AS __df
            FROM grams0 GROUP BY gram
        ),
        dropped AS (SELECT * FROM per_gram WHERE {cond})
        SELECT CAST(COUNT(*) AS BIGINT) AS n_capped_grams,
               CAST(COALESCE(MAX(__df), 0) AS BIGINT) AS max_doc_freq
        FROM dropped
    """


def dd_shared_passages(n: int = 8, min_len: int = 16, max_df: "int | None" = None) -> str:
    """DuckDB twin of :func:`shared_passages` over documents."""
    if min_len < n:
        raise ValueError(
            f"min_len ({min_len}) must be >= n ({n}): passages shorter "
            "than the gram width are undetectable by n-gram matching"
        )
    cap = (
        f"""grams AS (
            SELECT * FROM grams0 WHERE gram IN (
                SELECT gram FROM grams0
                GROUP BY gram HAVING COUNT(DISTINCT doc) <= {max_df}
            )
        ),"""
        if max_df is not None
        else "grams AS (SELECT * FROM grams0),"
    )
    return f"""
        WITH words AS (
            SELECT doc_id AS doc,
                   regexp_extract_all(lower(text), '{NGRAM_WORD_RE}') AS ws
            FROM documents
        ),
        grams0 AS (
            SELECT doc, CAST(i AS BIGINT) AS pos,
                   array_to_string(
                     ws[CAST(i AS INT):CAST(i + {n - 1} AS INT)], ' '
                   ) AS gram
            FROM words, LATERAL (
                SELECT UNNEST(RANGE(1, len(ws) - {n - 2}))
            ) t(i)
            WHERE len(ws) >= {n}
        ),
        {cap}
        m AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, a.pos AS pos_a,
                   b.pos AS pos_b, a.pos - b.pos AS diag
            FROM grams a JOIN grams b USING (gram)
            WHERE a.doc < b.doc
        ),
        isl AS (
            SELECT *, pos_a - ROW_NUMBER() OVER (
                PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
            ) AS island
            FROM m
        )
        SELECT doc_a, doc_b,
               CAST(MIN(pos_a) AS BIGINT) AS start_a,
               CAST(MIN(pos_b) AS BIGINT) AS start_b,
               CAST(COUNT(*) + {n - 1} AS BIGINT) AS len_tokens
        FROM isl
        GROUP BY doc_a, doc_b, diag, island
        HAVING COUNT(*) + {n - 1} >= {min_len}
    """


def remove_passages(
    docs: "DataFrame",
    spans: "DataFrame",
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> "DataFrame":
    """Apply pass of exact substring dedup: given :func:`shared_passages`
    output, cut every duplicated span from the HIGHER-keyed doc of each
    pair (``doc_b``), so exactly one copy — the lowest doc id where the
    passage appears — survives corpus-wide (the remove-all-but-one rule
    of Lee et al. 2022).  Output is the normalized token stream
    (lowercased ``NGRAM_WORD_RE`` tokens space-joined), NOT the original
    byte text — positions are only defined in that tokenization.

    Plan shape: one small groupBy over the spans relation (pairs, not
    corpus scale) -> left join into the corpus (AQE broadcasts it) ->
    a native ``filter``/``exists`` higher-order expression per doc.
    The corpus itself never shuffles; overlapping intervals need no
    driver-side merge (the exists() check unions them implicitly).

    Returns: ``doc_col``, ``clean_text``, ``removed_tokens``.
    """
    ivs = spans.groupBy(F.col("doc_b").alias(doc_col)).agg(
        F.collect_list(
            F.struct(
                F.col("start_b").alias("s"), F.col("len_tokens").alias("l")
            )
        ).alias("__ivs")
    )
    j = docs.join(ivs, on=doc_col, how="left")
    words = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(NGRAM_WORD_RE), 0
    )
    iv = F.coalesce(
        F.col("__ivs"), F.expr("CAST(array() AS ARRAY<STRUCT<s: BIGINT, l: BIGINT>>)")
    )
    kept = F.filter(
        words,
        lambda w, i: ~F.exists(
            iv, lambda v: (i + 1 >= v["s"]) & (i + 1 < v["s"] + v["l"])
        ),
    )
    return j.select(
        F.col(doc_col),
        F.array_join(kept, " ").alias("clean_text"),
        (F.size(words) - F.size(kept)).cast("bigint").alias("removed_tokens"),
    )


def dd_remove_passages(n: int = 8, min_len: int = 16) -> str:
    """DuckDB twin of :func:`remove_passages` applied to
    :func:`shared_passages` (same ``n``/``min_len``) over documents —
    relational form (posexplode + anti-semi-join + ordered string_agg)
    of the Spark higher-order-function plan."""
    spans = dd_shared_passages(n, min_len)
    return f"""
        WITH ivs AS (
            SELECT doc_b AS doc_id, start_b AS s, len_tokens AS l
            FROM ({spans}) sp
        ),
        words AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '{NGRAM_WORD_RE}') AS ws
            FROM documents
        ),
        pos AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   ws[CAST(i AS INT)] AS w
            FROM words, LATERAL (
                SELECT UNNEST(RANGE(1, len(ws) + 1))
            ) t(i)
        ),
        kept AS (
            SELECT p.* FROM pos p
            WHERE NOT EXISTS (
                SELECT 1 FROM ivs v
                WHERE v.doc_id = p.doc_id
                  AND p.pos >= v.s AND p.pos < v.s + v.l
            )
        ),
        agg AS (
            SELECT doc_id,
                   string_agg(w, ' ' ORDER BY pos) AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT w.doc_id,
               COALESCE(a.clean_text, '') AS clean_text,
               CAST(len(w.ws) - COALESCE(a.n_kept, 0) AS BIGINT)
                 AS removed_tokens
        FROM words w LEFT JOIN agg a USING (doc_id)
    """


# ---------------------------------------------------------------------------
# DSIR-style importance weights (hashed n-gram LLR data selection)
# ---------------------------------------------------------------------------

_DSIR_POOL = None  # created lazily (mirrors _SURP_POOL)

# fixed-point log2 at 1/16-bit resolution: thresholds floor(2^59 * 2^(i/16))
# for the mantissa normalized into [2^59, 2^60).  Baked identically into the
# Spark and DuckDB expressions, so the floor is exact cross-engine by
# construction (the constant is what defines the function).
FP16_LOG2_THRESHOLDS = [int(2**59 * 2 ** (i / 16)) for i in range(1, 16)]
RATIO_SHIFT = 16  # ratios quantized to 2^-16; clamped at 1 (log2 >= -16)


def _fp16_log2_sql(x: str, shl, shr) -> str:
    """SQL text for floor(16 * log2(x)), x >= 1 — exact integer form:
    16 * ilog2 + threshold-counted mantissa fraction.  ``shl``/``shr``
    render engine-specific shifts (Spark: shiftleft/shiftright
    functions; DuckDB: << / >> operators)."""
    e = f"(length(bin({x})) - 1)"
    m = (
        f"(CASE WHEN {e} <= 59 THEN {shl(x, f'59 - {e}')} "
        f"ELSE {shr(x, f'{e} - 59')} END)"
    )
    whens = " ".join(
        f"WHEN {m} >= {t} THEN {i}"
        for i, t in sorted(
            enumerate(FP16_LOG2_THRESHOLDS, 1), key=lambda p: -p[0]
        )
    )
    return f"(CAST({e} AS BIGINT) * 16 + (CASE {whens} ELSE 0 END))"


def _spark_shl(x: str, n: str) -> str:
    return f"shiftleft(CAST({x} AS BIGINT), CAST({n} AS INT))"


def _spark_shr(x: str, n: str) -> str:
    return f"shiftright(CAST({x} AS BIGINT), CAST({n} AS INT))"


def _dd_shl(x: str, n: str) -> str:
    return f"(CAST({x} AS BIGINT) << ({n}))"


def _dd_shr(x: str, n: str) -> str:
    return f"(CAST({x} AS BIGINT) >> ({n}))"


def importance_weights(
    docs: "DataFrame",
    target_ids: "DataFrame",
    text_col: str = "text",
    doc_col: str = "doc_id",
    n_buckets: int = CLF_BUCKETS,
) -> "DataFrame":
    """Data Selection with Importance Resampling (Xie et al. 2023)
    scoring pass: rank raw documents by how target-like they are under
    hashed n-gram bag-of-features language models.

    Per hashed feature ``f`` the log-likelihood ratio
    ``llr(f) = log2[(ct+1)/Tt] - log2[(cr+1)/Tr]`` is computed in
    EXACT fixed-point 1/16-bit integer arithmetic (add-one smoothing
    keeps target-unseen features finite): the count ratio is quantized
    to ``((ct+1) << 16) DIV (cr+1)`` (clamped at 1 — llr saturates at
    -16 bits for features 2^16x overrepresented in the raw corpus) and
    floor(16*log2) of it is 16*ilog2 plus a 15-threshold mantissa
    CASE — transcendental-free, so the DuckDB twin is bit-identical
    (the whole-bit :func:`_ilog2` form cancels to zero at small
    counts; 1/16-bit keeps the selection signal).  Per document:
    ``logweight_fp16 = sum_f tf*L(ratio_f) - n_feats*L(ratio_T)``
    (the totals term is a corpus constant) in 1/16-bit units; resample
    proportional to ``2^(logweight_fp16/16)`` downstream.

    Shapes at corpus scale: ONE explode (the pooled (doc, fid, tf)
    relation is reused for the raw LM, the target LM — a leftsemi on
    target ids, no second scan — and the final per-doc sum); both LMs
    are map-side-combinable groupBys bounded by ``n_buckets`` rows;
    totals are one-row broadcast cross joins; the score join keys on
    fid against a <= n_buckets relation (AQE broadcasts it).
    Overflow-safe under ANSI: the shifted numerator is bounded by
    2^(46+16) for corpora up to ~10^14 feature instances.
    """
    from .cachepool import CachePool

    global _DSIR_POOL
    if _DSIR_POOL is None:
        _DSIR_POOL = CachePool()
    _DSIR_POOL.new_generation()

    feats = _DSIR_POOL.add(
        hashed_features(docs, text_col, doc_col, n_buckets).persist()
    )
    raw_lm = feats.groupBy("fid").agg(F.sum("tf").alias("cr"))
    tgt_lm = (
        feats.join(
            target_ids.select(doc_col).distinct(), on=doc_col, how="leftsemi"
        )
        .groupBy("fid")
        .agg(F.sum("tf").alias("ct"))
    )
    t_raw = raw_lm.agg(F.sum("cr").alias("__tr"))
    t_tgt = tgt_lm.agg(F.sum("ct").alias("__tt"))
    rf = (
        f"greatest(shiftleft(coalesce(ct, CAST(0 AS BIGINT)) + 1,"
        f" {RATIO_SHIFT}) DIV (cr + 1), CAST(1 AS BIGINT))"
    )
    rt = (
        f"greatest(shiftleft(__tt, {RATIO_SHIFT}) DIV __tr,"
        f" CAST(1 AS BIGINT))"
    )
    score = (
        raw_lm.join(tgt_lm, on="fid", how="left")
        .crossJoin(F.broadcast(t_raw))
        .crossJoin(F.broadcast(t_tgt))
        .select(
            "fid",
            F.expr(_fp16_log2_sql(rf, _spark_shl, _spark_shr)).alias("s"),
            F.expr(_fp16_log2_sql(rt, _spark_shl, _spark_shr)).alias("st"),
        )
    )
    return (
        feats.join(score, on="fid")
        .groupBy(doc_col)
        .agg(
            F.sum("tf").alias("n_feats"),
            F.sum(F.col("tf") * F.col("s") - F.col("tf") * F.col("st")).alias(
                "logweight_fp16"
            ),
        )
    )


def dd_importance_weights(mod: int = 10, n_buckets: int = CLF_BUCKETS) -> str:
    """DuckDB twin of :func:`importance_weights` over documents with
    the deterministic target subset ``doc_id % mod == 0``."""
    from .dedup import dd_h64

    rf = (
        f"GREATEST(((COALESCE(ct, 0) + 1) << {RATIO_SHIFT}) // (cr + 1),"
        f" CAST(1 AS BIGINT))"
    )
    rt = f"GREATEST((tt.t << {RATIO_SHIFT}) // tr.t, CAST(1 AS BIGINT))"
    return f"""
        WITH words AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '{NGRAM_WORD_RE}') AS ws
            FROM documents
        ),
        grams AS (
            SELECT doc_id, UNNEST(ws) AS gram FROM words
            UNION ALL
            SELECT doc_id,
                   array_to_string(ws[CAST(i AS INT):CAST(i + 1 AS INT)], ' ')
            FROM words, LATERAL (SELECT UNNEST(RANGE(1, len(ws)))) t(i)
            WHERE len(ws) >= 2
        ),
        feats AS (
            SELECT doc_id, ({dd_h64('gram')}) % {n_buckets} AS fid,
                   COUNT(*) AS tf
            FROM grams GROUP BY 1, 2
        ),
        raw_lm AS (SELECT fid, SUM(tf) AS cr FROM feats GROUP BY 1),
        tgt_lm AS (
            SELECT fid, SUM(tf) AS ct FROM feats
            WHERE doc_id % {mod} = 0 GROUP BY 1
        ),
        tr AS (SELECT SUM(cr) AS t FROM raw_lm),
        tt AS (SELECT SUM(ct) AS t FROM tgt_lm),
        score AS (
            SELECT r.fid,
                   {_fp16_log2_sql(rf, _dd_shl, _dd_shr)} AS s,
                   {_fp16_log2_sql(rt, _dd_shl, _dd_shr)} AS st
            FROM raw_lm r LEFT JOIN tgt_lm g USING (fid), tr, tt
        )
        SELECT f.doc_id,
               CAST(SUM(f.tf) AS BIGINT) AS n_feats,
               CAST(SUM(f.tf * s.s - f.tf * s.st) AS BIGINT)
                 AS logweight_fp16
        FROM feats f JOIN score s USING (fid)
        GROUP BY f.doc_id
    """


# ---------------------------------------------------------------------------
# character-entropy quality score (zero-shuffle gibberish detector)
# ---------------------------------------------------------------------------

ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def char_entropy(
    docs: "DataFrame",
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> "DataFrame":
    """Per-document Shannon entropy of the alphanumeric character
    distribution — the compression-ratio-style gibberish / repetition
    detector (low entropy = repeated characters / padded spam, high =
    uniform noise), in EXACT fixed-point integer arithmetic.

    ``H * n * 16 = n*L(n) - sum_ch c_ch*L(c_ch)`` with ``L`` the
    1/16-bit :func:`_fp16_log2_sql` and ``c_ch`` the per-symbol counts;
    ``entropy_fp16`` is the per-char mean ``DIV n`` (0..~85 = 16*log2(36)).

    The 100-TB design point: NO explode and NO shuffle — each of the
    36 symbol counts is a native ``length(t) - length(replace(t, ch))``
    expression and the entropy is a pure per-row projection, so the
    whole operator lives inside one WholeStageCodegen map over the
    scan.  (A char-explode + groupBy formulation would create one row
    per character of the corpus — ~10^15 rows at scale — for a result
    a projection computes for free.)

    Docs with no alphanumeric characters are dropped (entropy of an
    empty distribution is undefined).
    """
    t = F.lower(F.col(text_col))
    counts = [
        (F.length(t) - F.length(F.replace(t, F.lit(ch)))).cast("long").alias(
            f"__c_{i}"
        )
        for i, ch in enumerate(ENTROPY_ALPHABET)
    ]
    from .skew import widen_input

    s1 = widen_input(docs.select(F.col(doc_col), F.col(text_col))).select(
        F.col(doc_col), *counts
    )
    n = sum(F.col(f"__c_{i}") for i in range(len(ENTROPY_ALPHABET)))
    terms = [
        F.when(
            F.col(f"__c_{i}") > 0,
            F.col(f"__c_{i}")
            * F.expr(_fp16_log2_sql(f"__c_{i}", _spark_shl, _spark_shr)),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(len(ENTROPY_ALPHABET))
    ]
    s2 = s1.select(
        F.col(doc_col), n.alias("__n"), sum(terms).alias("__s")
    ).filter(F.col("__n") > 0)
    num = (
        F.col("__n") * F.expr(_fp16_log2_sql("__n", _spark_shl, _spark_shr))
        - F.col("__s")
    )
    return s2.select(
        F.col(doc_col),
        F.col("__n").alias("n_alnum"),
        F.expr(
            f"({_fp16_log2_sql('__n', _spark_shl, _spark_shr)} * __n - __s)"
            f" DIV __n"
        ).alias("entropy_fp16"),
        num.alias("entropy_fp16_num"),
    )


def dd_char_entropy() -> str:
    """DuckDB twin of :func:`char_entropy` over documents."""
    cnt = [
        f"CAST(length(t) - length(replace(t, '{ch}', '')) AS BIGINT)"
        for ch in ENTROPY_ALPHABET
    ]
    cols = ", ".join(f"{c} AS c_{i}" for i, c in enumerate(cnt))
    n = " + ".join(f"c_{i}" for i in range(len(ENTROPY_ALPHABET)))
    terms = " + ".join(
        f"(CASE WHEN c_{i} > 0 THEN c_{i} * "
        f"{_fp16_log2_sql(f'c_{i}', _dd_shl, _dd_shr)} ELSE 0 END)"
        for i in range(len(ENTROPY_ALPHABET))
    )
    ln = _fp16_log2_sql("n", _dd_shl, _dd_shr)
    return f"""
        WITH lowered AS (
            SELECT doc_id, lower(text) AS t FROM documents
        ),
        counted AS (SELECT doc_id, {cols} FROM lowered),
        summed AS (
            SELECT doc_id, {n} AS n, {terms} AS s FROM counted
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_alnum,
               CAST(({ln} * n - s) // n AS BIGINT) AS entropy_fp16,
               CAST({ln} * n - s AS BIGINT) AS entropy_fp16_num
        FROM summed WHERE n > 0
    """


_DECON_POOL = None  # created lazily (mirrors _TFIDF_POOL)


def contaminated_docs_fuzzy(
    train: "DataFrame",
    eval_docs: "DataFrame",
    threshold_pct: int = 50,
    n: int = 3,
    text_col: str = "text",
    doc_col: str = "doc_id",
    eval_key: str = "eval_id",
) -> DataFrame:
    """Fuzzy benchmark decontamination: training docs whose character
    ``n``-shingle Jaccard against ANY eval/benchmark doc meets
    ``threshold_pct`` — catches paraphrased / lightly-edited leakage
    the exact-gram :func:`contaminated_docs` pass misses.  Exact
    Jaccard (integer cross-multiplied, no floats), not LSH: the eval
    side is a benchmark suite, small enough that approximation buys
    nothing.

    Scale shape: shingle-set SIZES are per-row projections
    (``size(array_distinct(...))`` — no explode, no shuffle); only the
    INTERSECTION needs the gram join, and its eval side (distinct
    eval grams, benchmark-bounded) broadcasts, so the corpus never
    shuffles for the join; the (train, eval) intersection count is a
    map-side-combinable groupBy over hit rows only — a sliver of the
    corpus.  Output: ``doc_col``, ``eval_key``, inter, sz_train,
    sz_eval for every qualifying pair.
    """
    from .dedup import shingles

    from .cachepool import CachePool

    global _DECON_POOL
    if _DECON_POOL is None:
        _DECON_POOL = CachePool()
    _DECON_POOL.new_generation()

    tr_sh = F.array_distinct(shingles(F.col(text_col), n))
    ev_sh = F.array_distinct(shingles(F.col(text_col), n))
    # The CORPUS-side shingle explode is tokenized ONCE (pooled persist)
    # and sz_train is derived from it as the per-doc exploded row count
    # (== size(array_distinct(shingles)) by construction): the previous
    # separate tr_sz relation re-ran the whole shingle pipeline over the
    # corpus just to attach one integer (plan audit: 2 corpus-scale
    # Scan->shingle subtrees down to 1).  NOTE: do NOT fold size(arr)
    # into the same projection as the explode — the doubled expression
    # tree knocks the stage out of whole-stage codegen and interpreted
    # eval re-runs the regex-split per transform() element (measured:
    # minutes, quadratic per doc).  The eval side is benchmark-bounded;
    # its two tiny scans are not worth a persist.
    from .skew import widen_input

    tr_ex = _DECON_POOL.add(
        widen_input(train.select(F.col(doc_col), F.col(text_col)))
        .select(F.col(doc_col), F.explode(tr_sh).alias("sh"))
        .persist()
    )
    ev_ex = F.broadcast(
        eval_docs.select(
            F.col(doc_col).alias(eval_key), F.explode(ev_sh).alias("sh")
        )
    )
    inter = (
        tr_ex.join(ev_ex, on="sh")
        .groupBy(doc_col, eval_key)
        .agg(F.count("*").alias("inter"))
    )
    tr_sz = tr_ex.groupBy(doc_col).agg(F.count("*").alias("sz_train"))
    ev_sz = F.broadcast(
        eval_docs.select(
            F.col(doc_col).alias(eval_key), F.size(ev_sh).alias("sz_eval")
        )
    )
    return (
        inter.join(tr_sz, on=doc_col)
        .join(ev_sz, on=eval_key)
        .filter(
            F.col("inter") * 100
            >= F.lit(threshold_pct)
            * (F.col("sz_train") + F.col("sz_eval") - F.col("inter"))
        )
        .select(doc_col, eval_key, "inter", "sz_train", "sz_eval")
    )


def dd_contaminated_docs_fuzzy(
    eval_pred: str, threshold_pct: int = 50, n: int = 3
) -> str:
    """DuckDB twin of :func:`contaminated_docs_fuzzy` with the eval set
    ``SELECT * FROM documents WHERE {eval_pred}``."""
    from .dedup import dd_shingles

    sh = dd_shingles("text", n)
    return f"""
        WITH tr AS (
            SELECT doc_id, UNNEST(list_distinct({sh})) AS sh
            FROM documents
        ),
        ev AS (
            SELECT doc_id AS eval_id, UNNEST(list_distinct({sh})) AS sh
            FROM documents WHERE {eval_pred}
        ),
        inter AS (
            SELECT t.doc_id, e.eval_id, COUNT(*) AS inter
            FROM tr t JOIN ev e USING (sh)
            GROUP BY 1, 2
        ),
        trsz AS (
            SELECT doc_id, CAST(len(list_distinct({sh})) AS BIGINT)
                     AS sz_train
            FROM documents
        ),
        evsz AS (
            SELECT doc_id AS eval_id,
                   CAST(len(list_distinct({sh})) AS BIGINT) AS sz_eval
            FROM documents WHERE {eval_pred}
        )
        SELECT i.doc_id, i.eval_id, i.inter, t.sz_train, e.sz_eval
        FROM inter i
        JOIN trsz t USING (doc_id)
        JOIN evsz e USING (eval_id)
        WHERE i.inter * 100
              >= {threshold_pct} * (t.sz_train + e.sz_eval - i.inter)
    """


def novelty_scores(
    docs: "DataFrame",
    n: int = 3,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> "DataFrame":
    """Per-document novelty: of the doc's DISTINCT word n-grams, how
    many are FIRST INTRODUCED by it (no lower-keyed doc contains them)
    — the ordering-aware redundancy diagnostic behind dedup triage
    (a crawl snapshot whose late documents score near zero is mostly
    re-crawl; a stream of novelty-1.0 docs needs no passage dedup).
    Keys stand in for arrival order; feed an ingest sequence number
    for true time order.

    Output: ``doc_col``, ``n_grams`` (distinct grams), ``n_novel``,
    ``novelty_bp`` (basis points, exact integer division).

    Shapes at corpus scale: one distinct-gram explode; the gram owner
    (min doc id per gram) is a map-side-combinable min keyed on the
    gram; the ownership check is the SAME relation joined back on the
    gram (AQE-planned equi-join, never all-pairs); the per-doc tail is
    one combinable count.
    """
    g = docs.select(
        F.col(doc_col).alias("__doc"),
        F.explode(distinct_ngrams_col(F.col(text_col), n)).alias("gram"),
    )
    owner = g.groupBy("gram").agg(F.min("__doc").alias("__first"))
    per_doc = (
        g.join(owner, on="gram")
        .groupBy("__doc")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("__first") == F.col("__doc"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per_doc.select(
        F.col("__doc").alias(doc_col),
        "n_grams",
        F.col("n_novel").cast("bigint").alias("n_novel"),
        F.expr("n_novel * 10000 DIV n_grams").alias("novelty_bp"),
    )


def dd_novelty_scores(n: int = 3) -> str:
    """DuckDB twin of :func:`novelty_scores` over documents."""
    return f"""
        WITH words AS (
            SELECT doc_id AS doc,
                   regexp_extract_all(lower(text), '{NGRAM_WORD_RE}') AS ws
            FROM documents
        ),
        g AS (
            SELECT DISTINCT doc,
                   array_to_string(
                     ws[CAST(i AS INT):CAST(i + {n - 1} AS INT)], ' '
                   ) AS gram
            FROM words, LATERAL (
                SELECT UNNEST(RANGE(1, len(ws) - {n - 2}))
            ) t(i)
            WHERE len(ws) >= {n}
        ),
        owner AS (SELECT gram, MIN(doc) AS first FROM g GROUP BY 1)
        SELECT g.doc AS doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN o.first = g.doc THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN o.first = g.doc THEN 1 ELSE 0 END)
                    * 10000 // COUNT(*) AS BIGINT) AS novelty_bp
        FROM g JOIN owner o USING (gram)
        GROUP BY 1
    """
