"""Cross-engine-exact vector math over array<float> columns.

The embedding fixtures are float32; both sides cast each element to DOUBLE
*before* multiplying and fold sequentially left-to-right (Spark
``aggregate`` with 0.0 seed ≡ DuckDB ``list_reduce``; 0.0+x is bit-exact),
so dot products, norms, and cosine similarities are **bit-identical**
across engines — rankings need no rounding tolerance. Probed on DuckDB
1.0.0 this session.

Everything here is row-local JVM expression math (no Python, no
shuffle), but not codegen: on Spark 4.1 ``transform``, ``zip_with`` and
``aggregate`` are ``CodegenFallback`` and run interpreted. So where an
expression sits decides how often it runs: a lambda body runs once per
array element, a higher-order function's array arguments once per row.
A per-row value written inside a lambda body (a norm, an invariant array)
is re-evaluated for every element, and projecting it as a column first
does not help when it is referenced once: ``CollapseProject`` inlines it
back into the lambda. :func:`map_with` passes such a value as an argument
instead, so it is evaluated once per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The search dials every ANN index and its recall dashboard share: each
# search returns its top TOP_K neighbors for the vectors with
# vec_id % QUERY_MOD == 0, and recall@k divides by the same TOP_K.
TOP_K = 5
QUERY_MOD = 100


def map_with(arr: Column, value: Column, fn) -> Column:
    """``transform(arr, x -> fn(x, value))`` with ``value`` evaluated once
    per row rather than once per element (see the module docstring)."""
    return F.zip_with(arr, F.array_repeat(value, F.size(arr)), fn)


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
