"""Text-analysis operators for training-data pipelines (north-star surface).

Each operator is one narrow projection (plus one aggregation where stated)
over arbitrarily many rows. Most are pure ``pyspark.sql.functions`` —
whole-stage-codegen'd JVM expressions, no Python per row. Two are
Arrow-batched pandas UDFs, where the Python side measured faster or has no
JVM equivalent: ``rolling_fingerprint`` (C md5 per character gram) and
``zlib_compressed_size``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deliberately small: the operator's job is the *shape* (set-membership
# scoring entirely JVM-side); swapping in real fastText-style tables is a
# data change, not a code change.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"),
    "es": ("el", "la", "los", "y", "es", "una", "en", "que", "por", "con"),
}

# BPE-ish pretokenizer: word pieces OR single non-space punctuation — the
# classic GPT-2-style split shape, minus unicode categories.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased text; NULL and empty/blank text both
    yield an EMPTY array (so token counts are 0, not NULL or 1).

    Edge stripping is ``regexp_replace('^\\s+|\\s+$')``, NOT ``trim`` —
    trim strips 0x20 only, so tab/newline-edged text ('\\n', '\\tfoo')
    would otherwise split into phantom empty-string tokens that inflate
    every downstream metric. The Python replica (``ws_tokens_py`` in
    operators/dedup.py) and the DuckDB oracle SQL implement the same
    strip-then-split; agreement is asserted over a hostile-whitespace
    corpus in tests/test_llm.py."""
    cleaned = F.regexp_replace(
        F.lower(F.coalesce(col, F.lit(""))), r"^\s+|\s+$", ""
    )
    return F.when(
        cleaned == "", F.array().cast("array<string>")
    ).otherwise(F.split(cleaned, r"\s+"))


def ws_token_count(col: Column) -> Column:
    return F.size(ws_tokens(col)).cast("long")


def bpe_ish_token_count(col: Column) -> Column:
    """Token count under the BPE-ish regex pretokenizer (regexp_extract_all
    is JVM-side; the same RE2-compatible pattern runs in the DuckDB oracle).
    NULL text counts as 0."""
    return F.size(
        F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(BPE_ISH_PATTERN), 0)
    ).cast("long")


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    """DISTINCT marker tokens present (array_intersect is a native hash-set
    op evaluated once per row — higher-order filter() lambdas are interpreted
    per element and measured ~10× slower in the hot path)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.array_intersect(toks, arr)).cast("long")


def lang_scores(col: Column) -> dict[str, Column]:
    toks = ws_tokens(col)
    return {lang: _marker_hits(toks, m) for lang, m in LANG_MARKERS.items()}


def lang_id(col: Column, default: str = "und") -> Column:
    """Heuristic language ID: argmax of marker-token hits; 'und' when no
    marker matches. Ties break by lexicographic language code (deterministic)."""
    scores = lang_scores(col)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(scores)
        ]
    )
    max_score = F.array_max(F.array(*[scores[lang] for lang in sorted(scores)]))
    # min lang code among the argmax set (struct min compares score first,
    # but all candidates share max_score, so it reduces to min lang).
    argmax_lang = F.array_min(
        F.filter(pairs, lambda s: s["score"] == max_score)
    )["lang"]
    return F.when(max_score <= 0, F.lit(default)).otherwise(argmax_lang)


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation (0 for NULL/empty text)."""
    c = F.coalesce(col, F.lit(""))
    n = F.length(c)
    p = F.length(F.regexp_replace(c, r"[^.!?,;:'\"()\-]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n)


def stopword_ratio(col: Column, markers: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    toks = ws_tokens(col)
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        _marker_hits(toks, markers).cast("double") / F.size(toks)
    )


def mean_word_length(col: Column) -> Column:
    """Total non-whitespace chars / token count — equivalent to the mean of
    per-token lengths under whitespace tokenization, computed with two
    codegen'd expressions instead of an interpreted per-element aggregate."""
    toks = ws_tokens(col)
    total = F.length(
        F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\s+", "")
    ).cast("long")
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks)
    )


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0, 1]: length band + moderate
    punctuation + stopword presence + sane mean word length. Weights are
    arbitrary-but-fixed; the operator shape (pure column expressions,
    cross-engine reproducible) is the point."""
    n_tok = ws_token_count(col)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100_000), F.lit(0.4)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) <= 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(col) > 0, F.lit(0.2)).otherwise(F.lit(0.0))
    mwl = mean_word_length(col)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(0.2)).otherwise(F.lit(0.0))
    return F.round(len_ok + punct_ok + stop_ok + mwl_ok, 1)


def rolling_fingerprint(col: Column, gram: int = 8) -> Column:
    """Document fingerprint: minimum md5 over the sliding character
    ``gram``-grams (a 1-permutation MinHash over char shingles — the rolling
    piece of a winnowing fingerprint). md5 is bit-identical across engines,
    so this is oracle-checkable: the result equals the Spark expression
    ``array_min(transform(sequence(1, greatest(length(t) - (gram-1), 1)),
    i -> md5(substr(t, i, gram))))`` over ``t = coalesce(text, '')``
    (asserted on hostile strings in tests/test_llm.py).

    One Arrow pandas UDF over CPython's C md5, NOT that expression: a
    higher-order function is CodegenFallback, so Spark interprets the lambda
    once per character position — about 5 µs per gram with the JVM on C1
    only. On 5 000 sf0.1 documents (1.5 M grams, 4 cores) the expression
    took 2.1–2.4 s and this UDF 0.91–1.18 s under C1; under the default C2
    JIT the two are level (BASELINE.md). Taking the min of the raw digests
    and hex-encoding once gives the same order as the min of the hex
    strings. ASCII text slices its encoded bytes; other text slices by code
    point first, as Spark's ``substr`` does, then encodes."""
    import hashlib

    from pyspark.sql.types import StringType

    md5 = hashlib.md5

    def fp(t: str) -> str:
        m = max(len(t) - (gram - 1), 1)
        b = t.encode("utf-8")
        if len(b) == len(t):
            grams = (b[i : i + gram] for i in range(m))
        else:
            grams = (t[i : i + gram].encode("utf-8") for i in range(m))
        return min(md5(g, usedforsecurity=False).digest() for g in grams).hex()

    @F.pandas_udf(StringType())
    def _fp(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: fp(t or ""))

    return _fp(col)


def hashed_features(
    docs: DataFrame,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashing-trick featurization: each document becomes a sparse
    bag-of-buckets vector ``(doc_id, bucket, cnt)`` with
    ``bucket = md5(token) mod n_buckets`` — the fixed-width feature space
    (Weinberger et al. 2009) that needs NO vocabulary build, no dictionary
    broadcast, and no second pass, which is exactly why it scales: the map
    side computes buckets independently per row and the single shuffle is
    the (doc, bucket) partial-aggregated groupBy.

    md5's first 8 hex digits (not xxhash64) so the bucket assignment is
    reproducible in any engine for the oracle cross-check; production would
    swap in xxhash64 for ~5x cheaper hashing with the same distribution."""
    toks = ws_tokens(F.col(text_col))
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
        .cast("bigint")
        % n_buckets
    ).alias("bucket")
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok"))
        .select("doc_id", bucket)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def zlib_compressed_size():
    """Arrow-batched pandas UDF: DEFLATE-compressed byte size of each
    text's UTF-8 encoding at level 6 — the compression-ratio quality
    signal (low-entropy boilerplate/template text compresses far below
    natural prose; RefinedWeb/Gopher-style screens threshold on it).
    Deterministic for a fixed zlib level, so downstream queries pin
    goldens. Defined as a factory (not module-level) to keep this module
    import-light for the pure-JVM paths."""
    import zlib

    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _zsize(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: len(zlib.compress((t or "").encode("utf-8"), 6))
        )

    return _zsize
