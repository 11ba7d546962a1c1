"""Text-analysis expression library for the LLM-data-pipeline operators.

All helpers are Column expressions built from ``pyspark.sql.functions`` —
JVM-side, codegen-eligible, no Python in the hot path. They feed
:mod:`mta_rtf_dbt_spark.operators.textops` and
:mod:`mta_rtf_dbt_spark.operators.dedup`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker profiles for the heuristic language-ID scorer.
# Deliberately simple + deterministic (public-knowledge stopword lists) so an
# ANSI-SQL oracle can mirror the scoring exactly.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "est"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit"],
    "zh": ["de", "shi", "bu", "le", "ren", "wo", "zai", "you"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["that", "for", "on", "with", "as", "are"]

_WS = r"\s+"


def normalize(col: Column) -> Column:
    """Canonical form used for fingerprinting/dedup: lowercase, collapse
    whitespace runs to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(col), _WS, " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization -> array<string> (empty array for blank text)."""
    return F.filter(F.split(F.trim(col), _WS), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Character n-gram shingles over the normalized text -> array<string>.

    Expressed with sequence+substr (no UDF): one array op per row, linear in
    text length, fully distributed."""
    norm = normalize(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.substr(norm, i, F.lit(n)))


def token_ngrams(toks: Column, n: int = 3) -> Column:
    """Word n-grams of a token array -> array<string>: each window of n
    tokens, space-joined (``array_join(slice(toks, i, n), ' ')``). An array
    shorter than n yields itself as one gram; callers that mirror the
    oracle's ``len(arr) >= n`` guard filter those rows first."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of raw text -> array<string> (space-joined)."""
    return token_ngrams(tokens(normalize(col)), n)


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.try_divide(F.length(stripped).cast("double"), F.length(col).cast("double"))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords — a quality signal."""
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    toks = tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.try_divide(hits.cast("double"), F.size(toks).cast("double"))


def lang_score(col: Column, lang: str) -> Column:
    """Marker-hit count for one language over lowercased tokens."""
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    toks = tokens(F.lower(col))
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def fingerprint_sha(col: Column) -> Column:
    """Deterministic document fingerprint: sha256 of the normalized text."""
    return F.sha2(normalize(col), 256)


# The engine's portable hash family (shared with operators/dedup.py MinHash/
# SimHash and textops winnowing): char-polynomial, base 257, mod 2^31-1.
# All intermediates fit signed 64-bit, so Spark longs and any oracle
# engine's BIGINTs agree bit-for-bit.
POLY_BASE = 257
POLY_MOD = 2_147_483_647


def poly_hash(c: Column) -> Column:
    """Char-polynomial hash of a string column mod 2^31-1 — pure Column ops
    (split/transform/aggregate, no UDF).

    The char stream comes from ``split(s, '')`` (r11) rather than the old
    ``transform(sequence(1, length(s)), i -> substring(s, i, 1))``: each
    SQL ``substring`` re-scans the string's UTF-8 bytes to locate char i,
    making the old form O(len^2) per string; split materializes the char
    array in one linear pass. Per-char values are unchanged (``ascii`` of
    the same one-char strings; empty input still hashes to 0 — split('')
    yields [''] and ascii('') is 0, matching the empty-sequence fold), so
    every signature downstream is bit-identical — asserted against the
    DuckDB oracles, which replay the recurrence from their own char
    streams.

    Requires Spark >= 3.4 (r12, ADVICE): SPARK-40194 made ``split(s, '')``
    drop its trailing empty element; on older runtimes the extra '' char
    multiplies every hash by POLY_BASE once. Verified identical on the
    pinned PySpark 4.1.2."""
    chars = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * POLY_BASE + x) % POLY_MOD,
    )


def fingerprint_rolling(col: Column, window: int = 8) -> Column:
    """Rolling-hash style fingerprint: min of the portable char-polynomial
    hash over character ``window``-grams of the normalized text (a
    winnowing-flavored signature — cheap, shift-tolerant, pure Column ops,
    and since r4 engine-reproducible, so the driver entry carries a full
    DuckDB oracle instead of a rows-only check)."""
    grams = char_ngrams(col, window)
    return F.array_min(F.transform(grams, lambda g: poly_hash(g)))
