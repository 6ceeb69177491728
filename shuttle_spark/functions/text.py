"""Text-analysis column expressions (B26/B27/B30 + north-star text ops).

Every function here has a DuckDB-expressible twin so it can sit in an oracle
contract: the normalization/tokenization rules are deliberately chosen from
the regex subset both engines (Java regex / RE2) treat identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword seeds per language for the n-gram/stopword language-ID heuristic.
# Chosen to be count-expressible in both engines via occurrence counting.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " die ", " und "],
    "es": [" el ", " los ", " y "],
}


def normalize(text: Column) -> Column:
    """Trim + lowercase + collapse whitespace — the canonical form used by
    exact dedup (B27), shingling and fingerprinting.  Trim matters for the
    dedup key: without it, documents differing only in leading/trailing
    whitespace hash to different keys while every token-level view (tokens,
    shingles) already treats them as identical content.  The DuckDB twin is
    contracts._NORM_SQL — change BOTH or neither."""
    return F.trim(F.lower(F.regexp_replace(text, r"\s+", " ")))


def tokens(text: Column) -> Column:
    """Whitespace tokenization of normalized text -> array<string>."""
    return F.split(F.trim(normalize(text)), " ")


def token_count(text: Column) -> Column:
    """Token count; 0 for empty/blank text."""
    t = F.trim(normalize(text))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, " ")))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count (cheap BPE stand-in): every alphanumeric run
    is one token and every non-alnum, non-space character is its own token.
    Both counts are regex-expressible identically in DuckDB's RE2."""
    lowered = F.lower(text)
    word_runs = F.size(
        F.filter(
            F.split(F.regexp_replace(lowered, r"[^a-z0-9]", " "), " "),
            lambda w: F.length(w) > 0,
        )
    )
    punct_chars = F.length(F.regexp_replace(lowered, r"[a-z0-9\s]", ""))
    return (word_runs + punct_chars).cast("long")


def occurrence_count(text: Column, marker: str) -> Column:
    """Number of (possibly overlapping-free) occurrences of a literal marker,
    via length difference — identical semantics in any SQL engine."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(marker), F.lit(""))))
        / F.lit(len(marker))
    ).cast("long")


def lang_id(text: Column) -> Column:
    """Stopword-marker language-ID heuristic.  Returns the language whose
    markers occur most often in the normalized text ('und' if none).  The
    marker counting is replace-based so the DuckDB oracle is expression-
    identical (see contracts.py)."""
    padded = F.concat(F.lit(" "), normalize(text), F.lit(" "))
    scores = [
        (
            lang,
            sum(
                (occurrence_count(padded, m) for m in markers),
                F.lit(0).cast("long"),
            ),
        )
        for lang, markers in LANG_MARKERS.items()
    ]
    # argmax with deterministic tie-break on language code order.
    best_score = None
    for _, s in scores:
        best_score = s if best_score is None else F.greatest(best_score, s)
    result = F.lit("und")
    for lang, s in sorted(scores, key=lambda kv: kv[0], reverse=True):
        result = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(result)
    return result


def quality_score(text: Column) -> Column:
    """Heuristic quality score in [0,1]: rewards mid-length documents, word
    diversity and low punctuation density.  All built-in expressions.
    Empty/blank/NULL documents score 0.0 — without the explicit gate,
    split('') yields [''] (diversity term 1.0) and zero punctuation scores
    1.0, ranking a blank document at ~0.667, above genuine mid-quality
    text.  DuckDB twin: contracts._QUALITY_SQL."""
    # NULL handled at the INPUT (one cheap coalesce on the raw column) so
    # no conditional needs to wrap the scored subtree downstream
    t = normalize(F.coalesce(text, F.lit("")))
    n_chars = F.length(t)
    n_tokens = F.size(F.split(t, " "))
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    n_distinct = F.size(F.array_distinct(F.split(t, " ")))
    length_term = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    diversity_term = n_distinct / F.greatest(n_tokens, F.lit(1))
    punct_term = F.lit(1.0) - F.least(
        n_punct / F.greatest(n_chars, F.lit(1)) * F.lit(10.0), F.lit(1.0)
    )
    # BRANCH-FREE empty gate (multiply by a 0/1 indicator): a when()
    # around the score was measured 2.3x slower — codegen subexpression
    # elimination does not reach into conditional branches, so the
    # regexp-based normalize() re-evaluated per term.
    ind = F.least(n_chars, F.lit(1)).cast("double")
    return F.round(
        (length_term + diversity_term + punct_term) / F.lit(3.0) * ind, 6
    )


def fingerprint64(text: Column) -> Column:
    """64-bit content fingerprint of the normalized text (xxhash64) — the
    rolling-hash document fingerprint of the north star; Spark-side only
    (cross-engine contracts use md5-prefix, see operators/integrity.py)."""
    return F.xxhash64(normalize(text))


def ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram array from an ALREADY-MATERIALIZED token array column.

    ``toks`` must be a bound column (a prior projection), not an inline
    expression: Catalyst does not common-subexpression-eliminate inside
    higher-order-function lambdas, so an inline ``split(regexp_replace(...))``
    is re-evaluated per gram position — measured 3x slower on the documents
    table.  Callers tokenize in one projection, gram in the next (the
    projections do NOT collapse; verified in the optimized plan).
    """
    cnt = F.size(toks)
    return F.when(cnt < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), cnt - F.lit(n)),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-gram array over normalized tokens (n-gram Jaccard dedup).
    Empty array when the document has fewer than n tokens.  Single-expression
    convenience form — inside operators prefer the two-step
    tokenize-project + ``ngrams_from_tokens`` (see that docstring)."""
    return ngrams_from_tokens(tokens(text), n)


def token_chunks(text: Column, size: int = 32, stride: int = 16) -> Column:
    """Overlapping token-window chunks — the canonical LLM training-data
    chunker: windows of ``size`` tokens starting every ``stride`` tokens
    (one chunk per start offset < n_tokens; trailing windows truncate).

    array<string>, each element a space-joined window.  Pure JVM expression
    tree (sequence/slice/array_join) with a DuckDB twin
    (RANGE + list slice + array_to_string), so it sits under an oracle
    contract.  At 100 TB the same windowing belongs in an Arrow
    `mapInPandas` stage like `neardup.gram_sets` (Catalyst interprets
    higher-order lambdas per element); the semantics here are the contract
    either implementation must meet.
    """
    toks = tokens(text)
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(stride))
    return F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s + 1, size), " ")
    )
