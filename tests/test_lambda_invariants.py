"""No row-invariant higher-order function inside a lambda body.

On Spark 4.1 ``transform``, ``zip_with`` and ``aggregate`` are
``CodegenFallback`` and run interpreted. A lambda body runs once per array
element, so a higher-order function (HOF) in it that reads none of its
enclosing lambdas' variables computes the same per-row value once per
element: an O(dim) norm fold becomes O(dim²). ``CollapseProject`` inlines a
column projected once back into the lambda, so only the optimized plan
shows it. The vector keys pass such values through
``pipeline.vectors.map_with``; the prefix-fold keys project their invariant
array as a column read more than once.

The check walks each optimized plan's expression trees over py4j
(``children()``, ``LambdaFunction.arguments()``,
``NamedLambdaVariable.exprId()``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import dbsuite_spark
from dbsuite_spark.pipeline.clustering import DIM
from dbsuite_spark.pipeline.decomposition import _matvec, _normalize

SPECS = dbsuite_spark.all_specs()
EXPR = "org.apache.spark.sql.catalyst.expressions."

KEYS = [
    "sim_embed_quantize",
    "sim_search_two_stage",
    "ml_centroid_classify",
    "ts_ewma",
    "ts_holt_linear",
    "events_survival_km",
]


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def invariant_hofs(spark, df) -> list[str]:
    """HOFs inside a lambda body that reference no variable of an
    enclosing lambda, over every node of ``df``'s optimized plan."""
    cls = spark._jvm.java.lang.Class.forName
    hof = cls(EXPR + "HigherOrderFunction")
    lam = cls(EXPR + "LambdaFunction")
    var = cls(EXPR + "NamedLambdaVariable")
    found: list[str] = []

    def walk(e, bound: frozenset) -> set:
        """Lambda-variable ids referenced under ``e``; ``bound`` holds the
        ids of the lambdas enclosing ``e``."""
        if var.isInstance(e):
            return {e.exprId().id()}
        if lam.isInstance(e):
            own = frozenset(a.exprId().id() for a in _seq(e.arguments()))
            return walk(e.function(), bound | own)
        refs: set = set()
        for c in _seq(e.children()):
            refs |= walk(c, bound)
        if bound and hof.isInstance(e) and not refs & bound:
            found.append(e.prettyName())
        return refs

    plans = [df._jdf.queryExecution().optimizedPlan()]
    while plans:
        p = plans.pop()
        for e in _seq(p.expressions()):
            # Only an expression holding a lambda can hold a lambda body.
            if "lambdafunction" in e.toString():
                walk(e, frozenset())
        plans.extend(_seq(p.children()))
    return found


@pytest.mark.parametrize("key", KEYS)
def test_no_row_invariant_hof_in_lambda(spark, sf_dir, key):
    df = SPECS[key].fn(spark, sf_dir)
    assert invariant_hofs(spark, df) == []


def test_pca_normalize_folds_norm_once(spark):
    # ml_pca_power_iter's checkpoints hide its iteration from the plan, so
    # check one iteration's expression on a one-row frame.
    x = F.col("id").cast("double") + F.lit(1.0)
    row = spark.range(1).select(
        F.array_repeat(F.array_repeat(x, DIM), DIM).alias("g"),
        F.array_repeat(x, DIM).alias("v"),
    )
    df = row.select(_normalize(_matvec(F.col("g"), F.col("v"))).alias("v"))
    assert invariant_hofs(spark, df) == []
