"""Cross-engine-exact vector math over array<float> columns.

The embedding fixtures are float32; both sides cast each element to DOUBLE
*before* multiplying and fold sequentially left-to-right (Spark
``aggregate`` with 0.0 seed ≡ DuckDB ``list_reduce``; 0.0+x is bit-exact),
so dot products, norms, and cosine similarities are **bit-identical**
across engines — rankings need no rounding tolerance. Probed on DuckDB
1.0.0 this session.

All of this runs inside JVM codegen per row (no Python, no shuffle); cost
is O(dim) per pair at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The search dials every ANN index and its recall dashboard share: each
# search returns its top TOP_K neighbors for the vectors with
# vec_id % QUERY_MOD == 0, and recall@k divides by the same TOP_K.
TOP_K = 5
QUERY_MOD = 100


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def DOT(a: str, b: str) -> str:
    """DuckDB twin of dot() — identical op order, identical bits."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * {b}[i]), (x, y) -> x + y)"
    )


def L2NORM(a: str) -> str:
    return f"sqrt({DOT(a, a)})"


def COSINE(a: str, b: str) -> str:
    return f"({DOT(a, b)} / ({L2NORM(a)} * {L2NORM(b)}))"


def sqdist(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance in double — the same fold
    discipline as :func:`dot` (0.0 seed, left-to-right), so the bits
    match :func:`SQDIST` on any engine and partitioning."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def SQDIST(a: str, b: str) -> str:
    """DuckDB twin of sqdist() — identical op order, identical bits."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * "
        f"(CAST({a}[i] AS DOUBLE) - {b}[i])), (x, y) -> x + y)"
    )
