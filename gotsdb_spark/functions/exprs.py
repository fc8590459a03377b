"""Reusable column expressions — the engine's scalar/array function
library.

Everything here is a pure Column→Column combinator over built-in
pyspark.sql.functions: JVM-evaluated, usable in batch and streaming,
and (by construction) reproducible in ANSI SQL for oracle checks.
Vector math uses zip_with/aggregate — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric array columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm of a numeric array column."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array columns."""
    return dot(a, b) / (norm(a) * norm(b))


def word_shingles(text: Column, k: int = 3, sep: str = " ") -> Column:
    """Distinct k-word shingles of a text column as an array.

    Row-local expression (sequence + transform + slice) — shingling at
    scan speed, no explode until the caller wants rows.
    """
    words = F.split(text, sep)
    n = F.size(words)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(sep, F.slice(words, i, k)),
        )
    )

