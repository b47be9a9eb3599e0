"""Vector math as pure Catalyst column expressions (SURVEY §4.3.1a).

The reference's distance metric is Milvus L2 over dim-1536 float vectors
(extract_and_embed.py:53-54: IVF_FLAT, metric_type L2). Here distance is a
column expression — `zip_with` + `aggregate` — which stays JVM-side: no
Python, no UDF, no serialization. It is NOT whole-stage codegen'd: both
higher-order functions fall back to interpreted evaluation, so the Project
that computes a distance carries no `*(n)` codegen marker and calls two
lambdas per element per row. A Pandas-UDF variant (operators/knn.py) exists
only for very high dims where a BLAS matmul wins.

The serving facade answers exact searches over a small level from a
driver-resident NumPy matrix (api._LevelMatrix.dist). That fold is
l2_distance's bit-identical twin: float32 widened to double, squared
differences summed left to right from 0.0, then sqrt;
tests/test_api.py::test_driver_matrix_fold_matches_l2_distance pins the
bits, as test_sql_l2_fold_matches_l2_distance pins l2_distance_sql's.

All arithmetic is double-precision regardless of the stored float32 element
type: elements are cast before multiply so results are stable across
engines (and match the DuckDB oracle, which computes list_distance on
DOUBLE[] the same left-to-right way).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot_product(a: Column, b: Column) -> Column:
    """Sum of element-wise products, left-to-right fold."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_distance_sq(a: Column, b: Column) -> Column:
    """Squared Euclidean distance. Monotone in l2_distance — use for
    ordering to skip the sqrt when the raw score isn't surfaced."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_distance(a: Column, b: Column) -> Column:
    """Euclidean (L2) distance — the reference's search metric
    (extract_and_embed.py:53, metric_type="L2")."""
    return F.sqrt(l2_distance_sq(a, b))


def l2_distance_sql(a: str, b: str) -> str:
    """SQL text of l2_distance over the SQL expressions `a` and `b`: the
    same casts, zip_with square, left-to-right aggregate from 0.0D and
    sqrt, so a statement built from it computes bit-identical doubles."""
    return (
        f"sqrt(aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
        f"CAST({b} AS ARRAY<DOUBLE>), (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, x) -> acc + x))"
    )


def vector_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs (guarded like the
    reference guards its ratio at extract_and_search_v2.py:165-168)."""
    denom = vector_norm(a) * vector_norm(b)
    # ansi: the denom > 0 CASE arm guards the division
    return F.when(denom > 0, dot_product(a, b) / denom).otherwise(F.lit(0.0))
