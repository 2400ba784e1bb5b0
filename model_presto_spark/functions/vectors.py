"""Vector expressions (embedding similarity).

All JVM-side Catalyst expressions. Folds are sequential
left-to-right, matching DuckDB's ``list_reduce`` order, so dot
products and norms are bit-identical across engines (both promote
float elements to double before accumulating). ``cosine_similarity``
is SQL text for ``F.expr`` (the knn distance folds in
``operators/knn.py`` are too); the squared-L2 builders take Columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def cosine_similarity(a: str, b: str) -> str:
    """Cosine similarity of two SQL array fragments, as SQL text for
    ``F.expr`` (one JVM parse instead of ~100 py4j round-trips of
    Column construction). Per-element double casts via ``transform``
    (matching ``as_double``), sequential left-to-right folds, ``0.0D``
    double literals (a bare SQL ``0.0`` parses as DECIMAL)."""
    ad = f"transform({a}, x -> CAST(x AS DOUBLE))"
    bd = f"transform({b}, x -> CAST(x AS DOUBLE))"
    dot = (
        f"aggregate(zip_with({ad}, {bd}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )
    na = f"SQRT(aggregate({ad}, 0.0D, (acc, x) -> acc + x * x))"
    nb = f"SQRT(aggregate({bd}, 0.0D, (acc, x) -> acc + x * x))"
    return f"{dot} / ({na} * {nb})"


def sq_euclidean(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_euclidean_int(a: Column, b: Column) -> Column:
    """Squared euclidean over integer-quantized vectors (integer math
    in the fold; one cast at the end). Elements widen to int before
    the difference — tinyint-tinyint can reach ±254 and would throw
    under ANSI arithmetic."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("int") - y.cast("int"))
            * (x.cast("int") - y.cast("int")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("double")
