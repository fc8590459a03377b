from gotsdb_spark.functions.exprs import (
    cosine,
    dot,
    norm,
    word_shingles,
)

__all__ = [
    "cosine",
    "dot",
    "norm",
    "word_shingles",
]
