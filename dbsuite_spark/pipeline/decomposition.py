"""Dominant principal component of the embedding corpus by power
iteration — the decomposition primitive behind embedding whitening,
anisotropy diagnostics ("all-but-the-top" post-processing), and
1-D corpus ordering for locality-preserving layout.

Spark-first shape: PCA at 100 TB is NOT a driver-side SVD — it is one
distributed pass to build the DIM×DIM Gram matrix G = ΣᵣxᵣxᵣT (a
constant-size summary, like any aggregate), then a few matrix-vector
products on that tiny summary. Everything after the single aggregation is
row-local expression math on one row.

Determinism/exactness (the ``ml_kmeans_scalable`` discipline):
- Gram entries are partial+final SUMs of **integer-quantized units**
  (``floor(xᵢ·xⱼ · 2^24)`` as BIGINT). Integer addition is associative,
  so the sum is partition- and order-invariant and bit-identical in the
  DuckDB oracle. double→DECIMAL casts are NOT used (rounding ties resolve
  differently across engines — see pipeline/clustering.py).
- The unrolled power iterations (3 steps from the all-ones vector) are
  sequential left-to-right folds (Spark ``aggregate`` seed 0.0 ≡ DuckDB
  seedless ``list_reduce``; 0.0+x is bit-exact — pipeline/vectors.py),
  and sqrt/division are IEEE-correctly-rounded on both engines, so every
  loading is bit-identical with no rounding tolerance.

Scale: the aggregation explodes each row ×DIM and computes DIM integer
sums per exploded row (map-side combined) — one shuffle of at most
DIM² ≈ 4k partial cells per partition, independent of corpus size. The
iteration stage touches DIM rows. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dbsuite_spark.pipeline.clustering import DIM
from dbsuite_spark.pipeline.vectors import map_with
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

QUANT = 16777216.0  # 2^24 — integer units per 1.0 of xᵢ·xⱼ
ITERATIONS = 3

_PCA_ORACLE = f"""
WITH m AS (
  SELECT ti.i AS i, tj.j AS j,
         CAST(SUM(CAST(floor(CAST(embedding[ti.i] AS DOUBLE)
                             * CAST(embedding[tj.j] AS DOUBLE)
                             * {QUANT}) AS BIGINT)) AS BIGINT) AS q
  FROM embeddings,
       unnest(generate_series(1, {DIM})) ti(i),
       unnest(generate_series(1, {DIM})) tj(j)
  GROUP BY ti.i, tj.j),
rowsg AS (
  SELECT i, list(CAST(q AS DOUBLE) / {QUANT} ORDER BY j) AS gr
  FROM m GROUP BY i),
mat AS (SELECT list(gr ORDER BY i) AS g FROM rowsg),
it0 AS (SELECT g, list_transform(generate_series(1, {DIM}), x -> 1.0) AS v
        FROM mat),
it1 AS (SELECT g, list_transform(w, x -> x / sqrt(list_reduce(
            list_transform(w, y -> y * y), (a, b) -> a + b))) AS v
        FROM (SELECT g, list_transform(generate_series(1, {DIM}),
                  i -> list_reduce(list_transform(generate_series(1, {DIM}),
                       j -> g[i][j] * v[j]), (a, b) -> a + b)) AS w
              FROM it0)),
it2 AS (SELECT g, list_transform(w, x -> x / sqrt(list_reduce(
            list_transform(w, y -> y * y), (a, b) -> a + b))) AS v
        FROM (SELECT g, list_transform(generate_series(1, {DIM}),
                  i -> list_reduce(list_transform(generate_series(1, {DIM}),
                       j -> g[i][j] * v[j]), (a, b) -> a + b)) AS w
              FROM it1)),
it3 AS (SELECT list_transform(w, x -> x / sqrt(list_reduce(
            list_transform(w, y -> y * y), (a, b) -> a + b))) AS v
        FROM (SELECT g, list_transform(generate_series(1, {DIM}),
                  i -> list_reduce(list_transform(generate_series(1, {DIM}),
                       j -> g[i][j] * v[j]), (a, b) -> a + b)) AS w
              FROM it2))
SELECT CAST(u.i AS INT) AS dim_idx, v[u.i] AS loading
FROM it3, unnest(generate_series(1, {DIM})) u(i)
"""


def _matvec(mat: Column, v: Column) -> Column:
    """G·v as a row-local expression: per output row, the sequential fold
    of the zip-product (identical op order to the oracle's list_reduce)."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: F.aggregate(
            F.zip_with(
                F.element_at(mat, i), v, lambda a, b: a * b
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _normalize(w: Column) -> Column:
    norm = F.sqrt(
        F.aggregate(
            F.transform(w, lambda y: y * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return map_with(w, norm, lambda x, n: x / n)


def gram_matrix_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row holding G as ``array<array<double>>`` — the single
    corpus-touching aggregation (explode ×DIM, DIM integer sums per
    group, partial+final). Factored out so tests/test_plans.py can pin
    this stage's plan (the final query plans from the iteration
    checkpoint, which hides it)."""
    e = t(spark, sf_dir, "embeddings")
    exploded = e.select(
        F.explode(F.sequence(F.lit(1), F.lit(DIM))).alias("i"),
        F.col("embedding").alias("emb"),
    ).select(
        "i",
        F.element_at("emb", F.col("i")).cast("double").alias("xi"),
        "emb",
    )
    grams = exploded.groupBy("i").agg(
        *[
            F.sum(
                F.floor(
                    F.col("xi")
                    * F.element_at("emb", j).cast("double")
                    * F.lit(QUANT)
                ).cast("long")
            )
            .cast("long")
            .alias(f"q{j}")
            for j in range(1, DIM + 1)
        ]
    )
    gr = grams.select(
        "i",
        F.array(
            *[
                (F.col(f"q{j}").cast("double") / F.lit(QUANT))
                for j in range(1, DIM + 1)
            ]
        ).alias("gr"),
    )
    return gr.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("i", "gr"))).alias("pairs")
    ).select(
        F.transform(F.col("pairs"), lambda x: x["gr"]).alias("g")
    )


@query("ml_pca_power_iter", oracle=_PCA_ORACLE, category="L")
def ml_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding second-moment
    matrix, by 3 unrolled power iterations from the all-ones start —
    fixed iteration count for determinism, the ``graph_pagerank_fixed``
    pattern applied to linear algebra. Returns one (dim_idx, loading) row
    per dimension; loadings are unit-L2 and bit-identical to the oracle."""
    one_row = gram_matrix_row(spark, sf_dir)
    v: Column = F.array_repeat(F.lit(1.0), DIM)
    df = one_row
    for step in range(1, ITERATIONS + 1):
        df = df.select("g", _normalize(_matvec(F.col("g"), v)).alias("v"))
        # Barrier: without it Catalyst's CollapseProject inlines each
        # iteration's 64-wide vector into the next, nesting the
        # matrix-vector fold three deep — an exponentially-sized
        # expression tree that stalls codegen. The lazy local checkpoint
        # pins each iteration's (tiny, single-row) result instead.
        df = df.localCheckpoint(eager=False)
        v = F.col("v")
    return df.select(
        F.posexplode("v").alias("pos", "loading")
    ).select(
        (F.col("pos") + 1).cast("int").alias("dim_idx"), "loading"
    )
