"""Scalar/array helper functions — all built-in Catalyst expressions.

Zero row-at-a-time Python UDFs (SURVEY.md §2.11): everything here stays
inside whole-stage codegen. The reference's scalar surface (F1-F10) plus
the vector math needed by the similarity operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_up(col: Column) -> Column:
    """F2 round-to-half-star: round(x*2)/2, spec'd HALF_UP
    (reference controller.py:329-331 uses Python banker's rounding;
    SURVEY.md §2.8 documents HALF_UP as this engine's behavior)."""
    return F.round(col * 2, 0) / 2


def clamp(col: Column, lo: float, hi: float) -> Column:
    """ML5 rating-scale clamp (surprise clips estimates into scale,
    reference trainer.py:37)."""
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))


def stable_bucket(key: Column, n: int = 100) -> Column:
    """Deterministic content-hash bucket in [0, n): first 8 md5 hex
    digits of the key string, mod n. Stable under repartitioning and
    identical across engines — the primitive behind q_sample_stable's
    split assignment, q_corpus_clean, and decontamination's
    split-aware sides."""
    return (
        F.conv(F.substring(
            F.md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long") % n
    ).cast("int")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns — pure JVM expression
    (zip_with + aggregate), no UDF, vectorizes inside codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity dot/(|a||b|) — identical accumulation order to
    DuckDB's list_cosine_similarity, so results are bit-comparable."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def word_shingles(tokens: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a token array, as an array<string>.

    slice() truncates at the array end exactly like DuckDB list_slice,
    so shingle sets match the oracle SQL.
    """
    idx = F.sequence(F.lit(1), F.greatest(F.size(tokens) - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i, k)))
    )


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-char shingles of a string column."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(text, i, k)))
