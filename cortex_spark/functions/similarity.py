"""Similarity kernels as *native* Spark SQL expressions (JVM-side, codegen).

cosine: reference vector/index.rs:169-179; Jaccard-on-words: reference
linker/rules.rs:271-289 (incl. its empty-set conventions: both empty → 1.0,
one empty → 0.0). No Python UDFs — `aggregate`/`zip_with` keep the hot
similarity-join path inside whole-stage codegen. `top_k_by_score` is the
one per-query top-k rank every scored-pair path ends in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_col(a: Column, b: Column) -> Column:
    # accumulate in float64: float32 element products would drift from any
    # double-precision oracle at the 1e-6 rounding boundary
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_col(a: Column, b: Column) -> Column:
    """cosine(a,b); 0.0 when either norm is 0 (index.rs:174-176)."""
    return cosine_from_norms(a, b, l2_norm_col(a), l2_norm_col(b))


def cosine_from_norms(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """cosine_col with each vector's `l2_norm_col` computed once per row
    before a pair join, not once per pair. Bit-identical to cosine_col: the
    same double expressions (IEEE multiplication is commutative, so the
    operand order of the norms does not matter)."""
    denom = a_norm * b_norm
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot_col(a, b) / denom)


def top_k_by_score(
    scored: DataFrame, query_col: str, neighbor_col: str, k: int, rank_col: str | None = None
) -> DataFrame:
    """The k best rows of `scored` per `query_col` value, ranked by
    (−score, neighbor id): ties on score break to the lower neighbor id, so
    the cut is deterministic. `rank_col` keeps the 1-based rank under that
    name; None drops it."""
    name = rank_col or "rn"
    w = Window.partitionBy(query_col).orderBy(F.desc("score"), F.asc(neighbor_col))
    ranked = scored.withColumn(name, F.row_number().over(w)).filter(F.col(name) <= k)
    return ranked if rank_col else ranked.drop(name)


def _word_set(s: Column) -> Column:
    return F.array_distinct(
        F.filter(F.split(F.lower(F.coalesce(s, F.lit(""))), r"\s+"), lambda w: w != "")
    )


def jaccard_words_col(a: Column, b: Column) -> Column:
    """Word-level Jaccard with the reference's empty conventions
    (rules.rs:271-289): both empty → 1.0; exactly one empty → 0.0."""
    wa, wb = _word_set(a), _word_set(b)
    inter = F.size(F.array_intersect(wa, wb))
    union = F.size(F.array_union(wa, wb))
    return (
        F.when((F.size(wa) == 0) & (F.size(wb) == 0), F.lit(1.0))
        .when((F.size(wa) == 0) | (F.size(wb) == 0), F.lit(0.0))
        .otherwise(inter.cast("double") / union.cast("double"))
    )
