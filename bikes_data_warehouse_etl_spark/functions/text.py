"""Text-analysis expressions for large-scale document pipelines.

All JVM-side Column builders (zero Python UDFs): tokenization, word
shingles, a cross-engine portable 64-bit content hash, token
statistics, language-ID heuristics, and document fingerprints. These
are the building blocks for the dedup family in ``operators/dedup.py``.

Portability: ``hash64`` is md5-prefix based so DuckDB can reproduce it
bit-for-bit (``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``) — Spark's
native ``xxhash64`` would be faster but engine-specific; swap it in via
``hash64_fast`` when oracle parity is not required.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def hash64(col: Column | str) -> Column:
    """Portable 60-bit content hash: first 15 hex chars of md5 → BIGINT.

    Identical in DuckDB: ``CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("long")


def hash64_fast(col: Column | str) -> Column:
    """xxhash64 — the scale path (one pass, no hex round-trip)."""
    return F.xxhash64(_c(col))


def normalize_text(col: Column | str) -> Column:
    """Lowercase, collapse non-alphanumerics to single spaces, trim."""
    out = F.lower(_c(col))
    out = F.regexp_replace(out, r"[^a-z0-9]+", " ")
    return F.trim(out)


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(col), r"\s+")


def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-word shingles from an existing token-array column.

    Built as a ``zip_with`` fold over ``k`` shifted ``slice``s of the
    token array. The slices are *top-level* arguments — evaluated once
    per row — never expressions inside a per-element lambda: the
    previous ``transform(idx, i -> concat_ws(slice(toks, i, k)))``
    formulation re-evaluated ``toks`` (the whole tokenize pipeline,
    when inlined by CollapseProject) once per shingle — O(tokens²) per
    document, measured 10x slower at sf0.1. The lambda itself uses
    ``concat`` + space literal, not ``concat_ws`` (~4x faster under
    interpreted higher-order-function eval; equivalent here because
    split() tokens are never NULL).

    In hot paths, materialize ``tokens(text)`` in its own projection
    first and pass the column — referenced ≥3 times it survives
    CollapseProject, so tokenization runs once per row instead of once
    per slice.
    """
    n = F.size(toks)
    m = n - (k - 1)
    acc = F.slice(toks, 1, m)
    for i in range(1, k):
        acc = F.zip_with(
            acc, F.slice(toks, 1 + i, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n >= k, acc).otherwise(F.expr("array()").cast("array<string>"))


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """k-word shingles as array<string> (empty array if < k tokens).

    Convenience inline form — tokenization is re-evaluated once per
    shifted slice (k+1 times per row). Linear, but in hot paths prefer
    the two-step :func:`word_shingles_from_tokens`."""
    return word_shingles_from_tokens(tokens(col), k)


def token_count(col: Column | str, toks: Column | None = None) -> Column:
    """Whitespace token count of the normalized text.

    Pass ``toks`` (a materialized ``tokens(col)`` column) in hot paths
    to avoid re-tokenizing per expression."""
    t = tokens(col) if toks is None else toks
    return F.when(F.size(t) == 1, F.when(t[0] == "", 0).otherwise(1)).otherwise(
        F.size(t)
    ).cast("long")


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token estimate: count of matches of a BPE-flavored
    regex (word pieces of ≤4 chars, digits, punctuation runs)."""
    return F.size(
        F.regexp_extract_all(
            F.lower(_c(col)), F.lit(r"[a-z]{1,4}|[0-9]+|[^a-z0-9\s]+"), F.lit(0)
        )
    ).cast("long")


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space, 4dp."""
    s = _c(col)
    n = F.length(s)
    stripped = F.regexp_replace(s, r"[a-zA-Z0-9\s]", "")
    return F.round(
        F.when(n > 0, F.length(stripped) / n).otherwise(F.lit(0.0)), 4
    )


STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "des", "un"),
}


def stopword_count(
    col: Column | str, lang: str = "en", toks: Column | None = None
) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    t = tokens(col) if toks is None else toks
    return F.size(
        F.filter(t, lambda x: x.isin(*[F.lit(w) for w in words]))
    ).cast("long")


def lang_id_guess(col: Column | str, toks: Column | None = None) -> Column:
    """N-gram/stopword language-ID heuristic over {en,es,de,fr,zh}.

    CJK character presence short-circuits to 'zh'; otherwise the
    language with the highest stopword hit count wins (ties broken by
    fixed language order, 'und' when no list matches).
    """
    s = _c(col)
    counts = {lang: stopword_count(s, lang, toks) for lang in STOPWORDS}
    best = F.lit("und")
    best_n = F.lit(0).cast("long")
    for lang in ("en", "es", "de", "fr"):  # fixed priority order
        c = counts[lang]
        is_better = c > best_n
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_n = F.when(is_better, c).otherwise(best_n)
    has_cjk = F.regexp_like(s, F.lit(r"[一-鿿]"))
    return F.when(has_cjk, "zh").otherwise(best)


def quality_score(col: Column | str, toks: Column | None = None) -> Column:
    """Composite document-quality heuristic in [0,1], 4dp: rewards
    moderate length, low punctuation, presence of stopwords."""
    s = _c(col)
    n_tok = token_count(s, toks)
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(s) * 4, F.lit(1.0))
    stop_score = F.least(stopword_count(s, "en", toks) / F.lit(5.0), F.lit(1.0))
    return F.round(
        0.5 * len_score + 0.3 * (1 - punct_penalty) + 0.2 * stop_score, 4
    )


def fingerprint(
    col: Column | str, hash_fn=None, toks: Column | None = None
) -> Column:
    """Order-insensitive document fingerprint: hash64 of the sorted
    distinct token set — robust to token reordering (rolling-hash-class
    fingerprinting re-expressed set-wise so it is shuffle-free).

    ``hash_fn`` defaults to the portable md5-prefix :func:`hash64`;
    pass :func:`hash64_fast` on the production path."""
    t = tokens(col) if toks is None else toks
    return (hash_fn or hash64)(F.concat_ws(" ", F.array_sort(F.array_distinct(t))))
