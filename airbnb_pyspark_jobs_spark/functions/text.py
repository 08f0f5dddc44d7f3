"""Text-analysis column builders for LLM-data pipelines (north-star scope).

All pure Catalyst expressions (split/regexp/array functions) — no Python
UDFs — so they run JVM-side inside whole-stage codegen and scale to
100 TB document tables. Where an operator must be reproducible in the
DuckDB oracle, the hash primitive is md5 (portable) rather than
xxhash64.

Operators:
- :func:`tokens` / :func:`token_count` — whitespace tokenization.
- :func:`bpe_ish_token_count` — regex token count approximating a BPE
  pre-tokenizer (letter runs / digit runs / single punctuation), the
  standard cheap proxy for LLM token budgeting.
- :func:`stopword_ratio`, :func:`quality_score` — heuristic document
  quality signals (length, punctuation density, stopword share).
- :func:`lang_guess` — stopword-hit language heuristic.
- :func:`fingerprint` — md5 of whitespace-normalized lowercased text
  (exact-dedup key).
- :func:`word_shingles` — distinct n-gram shingle array (dedup input).
- :func:`portable_hash_int` — first-8-hex-digits of md5 as a BIGINT;
  identical in DuckDB via ``CAST('0x' || substr(md5(x),1,8) AS BIGINT)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual stopword sets for the lang heuristic. Public-domain
# common function words.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"),
}

_WS = r"\s+"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty string → [''])."""
    text = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(text), _WS)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("bigint")


def py_query_terms(text: str) -> list[str]:
    """Driver-side twin of ``lower(tokens(...))`` for query STRINGS: trim,
    split on whitespace runs, lowercase. Retrieval operators (bm25_topk,
    retrieval_metrics) must normalize query terms with the SAME rule as
    document terms — a bare ``text.split()`` drifts the moment tokens()
    ever changes, silently yielding zero-relevance rows for any query
    word the doc side would have normalized differently."""
    import re

    # re.ASCII: Python's \s is Unicode-aware but Spark's F.split runs
    # Java regex where \s is ASCII-only — a query containing a Unicode
    # space (NBSP) must tokenize identically on both sides (ADVICE r7).
    t = text.strip()
    return [w.lower() for w in re.split(_WS, t, flags=re.ASCII)] if t else []


# Letter runs, digit runs, or single non-space-non-alnum — a cheap
# BPE-pre-tokenizer proxy. Kept to syntax valid in both Java regex and
# RE2 (no lookaround) so the DuckDB oracle can use the same pattern.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("bigint")


def stopword_count_from_tokens(toks: Column, lang: str = "en") -> Column:
    """Stopword hits over a PRE-PROJECTED token-array column — the fast
    path: the regex split runs once per row, not once per consumer."""
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*words))).cast("bigint")


def stopword_count(text: Column | str, lang: str = "en") -> Column:
    """Convenience wrapper that tokenizes inline. PERF: when several
    stopword/quality/lang expressions share one text column, project
    :func:`tokens` into a column first and use
    :func:`stopword_count_from_tokens` — otherwise each consumer re-runs
    the split (the SCALE_NOTES lambda-inlining trap)."""
    return stopword_count_from_tokens(tokens(text), lang)


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    return stopword_count(text, lang).cast("double") / token_count(text).cast("double")


def lang_guess_from_counts(counts: list[tuple[str, Column]]) -> Column:
    """Language pick from pre-computed per-language stopword-count
    COLUMNS (ties → first listed, zero hits everywhere → 'und'). Taking
    scalar columns keeps each count evaluated once even though it
    appears in greatest() and every when() branch."""
    best = F.greatest(*[c for _, c in counts]) if len(counts) > 1 else counts[0][1]
    expr = F.lit("und")
    # reverse order so earlier langs win ties
    for lg, cnt in reversed(counts):
        expr = F.when((cnt == best) & (best > 0), F.lit(lg)).otherwise(expr)
    return expr


def lang_guess(text: Column | str, langs: tuple[str, ...] = ("en", "de", "es", "fr")) -> Column:
    """Pick the language whose stopword set hits most. Convenience
    (inline-tokenizing) form — in hot paths project tokens + per-lang
    counts into columns and use :func:`lang_guess_from_counts`."""
    text = F.col(text) if isinstance(text, str) else text
    toks = tokens(text)
    counts = [(lg, stopword_count_from_tokens(toks, lg)) for lg in langs]
    return lang_guess_from_counts(counts)


def quality_score_from_counts(
    n_tokens: Column, sw_en: Column, n_punct: Column, n_chars: Column
) -> Column:
    """Quality score from pre-projected scalar count columns (see
    :func:`quality_score` for the formula)."""
    n_tok = n_tokens.cast("double")
    length_part = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    stop_part = F.least(sw_en.cast("double") / n_tok * F.lit(4.0), F.lit(1.0))
    punct_part = F.greatest(
        F.lit(1.0) - n_punct.cast("double") / n_chars.cast("double") * F.lit(5.0),
        F.lit(0.0),
    )
    return (length_part + stop_part + punct_part) / F.lit(3.0)


def quality_score(text: Column | str) -> Column:
    """Heuristic quality in [0,1]: rewards mid-length docs and prose-like
    stopword share, penalizes punctuation soup. Deterministic double
    arithmetic (reproducible in the oracle). Convenience form; hot paths
    should pre-project counts and use :func:`quality_score_from_counts`."""
    text = F.col(text) if isinstance(text, str) else text
    return quality_score_from_counts(
        token_count(text),
        stopword_count(text, "en"),
        F.regexp_count(text, F.lit(r"[^A-Za-z0-9\s]")).cast("bigint"),
        F.length(text).cast("bigint"),
    )


def fingerprint(text: Column | str) -> Column:
    """Exact-dedup key: md5 of lowercased, whitespace-collapsed text."""
    text = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), _WS, " "))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """DISTINCT word n-gram shingles as an array<string> (space-joined).

    Built with transform over a token-index range — JVM-side, no UDF.
    Documents shorter than ``n`` tokens yield NO shingles (empty array):
    sub-n docs carry no n-gram signal, and exact dedup already handles
    identical short docs. This matches the DuckDB oracle CTE in
    plans/text_queries.py on every corpus, including short/empty docs.

    PERF: pass a column that ALREADY holds the token array (see
    :func:`shingles_from_tokens`) when building shingle tables — if the
    split expression is inlined here, the lambda re-evaluates the regex
    split once per shingle element (measured ~10× slowdown).
    """
    return shingles_from_tokens(tokens(text), n)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Shingle array from a pre-computed token-array column.

    Docs with fewer than ``n`` tokens produce an EMPTY array (the
    when-branch guards the sequence, whose bounds must be ascending);
    they contribute no rows once exploded, so shingle tables, signature
    groupBys and Jaccard pairs all agree with the oracle SQL on short
    docs.
    """
    count = F.size(toks)
    idx = F.when(count >= n, F.sequence(F.lit(0), count - n)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)]),
    )
    return F.array_distinct(sh)


def kgram_hashes(text: Column | str, k: int = 8) -> Column:
    """Character k-gram hash array of a (pre-normalized, pre-PROJECTED)
    text column: element i = first-8-hex of md5 of chars [i, i+k)."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    gram_idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(
        gram_idx,
        lambda i: F.conv(F.substring(F.md5(t.substr(i, F.lit(k))), 1, 8), 16, 10).cast(
            "bigint"
        ),
    )


def window_minima(hashes: Column | str, w: int = 4) -> Column:
    """Winnowing step: DISTINCT minima of sliding windows (size ``w``)
    over a hash array (Schleimer/Wilkerson/Aiken). A shared substring of
    length >= k+w-1 guarantees a shared fingerprint, so near-duplicate
    fragments reduce to a fingerprint equality join.

    CRITICAL PERF: ``hashes`` MUST be a projected column, never the
    :func:`kgram_hashes` expression inlined — inlined, the whole k-gram
    array is recomputed per window element (O(n²) md5 calls; measured
    ~300× slowdown)."""
    h = F.col(hashes) if isinstance(hashes, str) else hashes
    m = F.size(h)
    win_idx = F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1)))
    minima = F.transform(win_idx, lambda j: F.array_min(F.slice(h, j, w)))
    return F.array_distinct(minima)


def normalize_text(text: Column | str) -> Column:
    """Lowercase + whitespace-collapse (the fingerprint normal form)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(text)), _WS, " ")


def portable_hash_int(c: Column | str, seed: str = "") -> Column:
    """BIGINT hash reproducible in DuckDB:
    Spark  : conv(substr(md5(seed || x), 1, 8), 16, 10)
    DuckDB : CAST('0x' || substr(md5(seed || x), 1, 8) AS BIGINT)
    32-bit range (fits bigint, no sign issues)."""
    c = F.col(c) if isinstance(c, str) else c
    seeded = F.concat(F.lit(seed), c) if seed else c
    return F.conv(F.substring(F.md5(seeded), 1, 8), 16, 10).cast("bigint")


# PII patterns — kept to syntax valid in BOTH Java regex and RE2 (no
# lookaround, no backrefs) so the DuckDB oracle runs the same patterns.
EMAIL_PATTERN = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9()\-\s]{6,}[0-9]"
IPV4_PATTERN = r"\b(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(\.(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}\b"

_PII_RULES = (
    ("<EMAIL>", EMAIL_PATTERN),
    ("<IP>", IPV4_PATTERN),
    ("<PHONE>", PHONE_PATTERN),
)


def redact_pii(text: Column | str) -> Column:
    """Replace emails, IPv4 addresses and phone-like digit runs with
    typed placeholders. Rule ORDER matters and is part of the contract:
    emails first (their local parts can contain digits), then IPs (dots
    between digit groups would otherwise read as phone separators), then
    phones — the oracle applies the same order."""
    text = F.col(text) if isinstance(text, str) else text
    out = text
    for placeholder, pattern in _PII_RULES:
        out = F.regexp_replace(out, pattern, placeholder)
    return out


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-category PII match counts (emails/ips/phones), evaluated on
    the SAME progressively-redacted text the replacement sees, so
    overlapping matches are attributed to exactly one category."""
    text = F.col(text) if isinstance(text, str) else text
    counts: dict[str, Column] = {}
    staged = text
    for placeholder, pattern in _PII_RULES:
        name = placeholder.strip("<>").lower()
        counts[f"n_{name}s"] = F.regexp_count(staged, F.lit(pattern)).cast("bigint")
        staged = F.regexp_replace(staged, pattern, placeholder)
    return counts
