"""Vector expression builders over array<float>/array<double> columns.

Pure Column expressions (F.zip_with / F.aggregate fold — sequential
left-to-right accumulation, which DuckDB's list_sum matches, so cosine
scores are bit-identical across engines). The Pandas-UDF path is NOT
needed here: 64-dim folds stay inside whole-stage codegen.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """dot(a,b) / (norm(a) * norm(b)) — formula written identically in
    the DuckDB oracles (NOT sqrt(na*nb): parenthesization must match
    for bit-identical doubles)."""
    return dot(a, b) / (norm(a) * norm(b))


def hyperplanes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 random hyperplanes for sign-LSH, derived from
    md5 so any engine (or the oracle generator) reproduces them."""
    return [
        [
            1 if hashlib.md5(f"{j}:{i}".encode()).digest()[0] & 1 else -1
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]
