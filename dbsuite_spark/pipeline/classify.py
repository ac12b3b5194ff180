"""Nearest-centroid (Rocchio) classification over the labeled embedding
corpus — the supervised counterpart of ``ml_kmeans_*``: fit one centroid
per label, assign every vector to its most-cosine-similar class centroid,
and emit the confusion matrix. This is the classifier used for
fastText-style corpus routing (domain/quality bucketing of training data)
when a full model is overkill.

Plan shape (100 TB): the "fit" is ONE hash aggregation — per label, 64
integer-unit component sums plus a count (65 agg columns, partial+final,
no explode of the corpus); the "predict" is a broadcast of the 10-row
centroid table and a row-local argmax fold per vector (no shuffle); the
confusion matrix is one tiny aggregation on (true, pred).

Determinism (full SQL hash oracle):
- centroid sums use the integer-quantization discipline
  (``floor(x · 2^20)`` BIGINT sums — associative, partition-invariant;
  see pipeline/clustering.py on why double→DECIMAL is NOT safe);
- the centroid component is ``(units / 2^20) / n`` evaluated in exactly
  that order on both engines;
- cosines are the shared sequential fold (pipeline/vectors.py),
  argmax ties break on the lowest label: Spark ``array_position`` finds
  the FIRST index of the max over the label-ordered candidate list ≡ the
  oracle's ``ORDER BY cs DESC, cand``.

Fixture contract: labels are dense 0..9 (pinned in tests) — the
label-ordered centroid list is indexed positionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsuite_spark.exact import MD5_BIGINT, md5_bigint
from dbsuite_spark.pipeline.clustering import DIM
from dbsuite_spark.pipeline.vectors import (
    COSINE,
    cosine,
    dot,
    l2_norm,
    map_with,
)
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

UNIT = 1048576.0  # 2^20 integer units per 1.0 of a component

def _cent_ctes(where: str, suffix: str) -> str:
    """The integer-unit per-label centroid CTE pair (u{suffix},
    c{suffix}) over an optionally filtered embedding slice — shared by
    _CLASSIFY_ORACLE and every learning-curve point so the
    quantization discipline lives in ONE place (the _tree_cand_sql
    assembly rule)."""
    return f"""
u{suffix} AS (
  SELECT label, ii.i AS i,
         CAST(SUM(CAST(floor(CAST(embedding[ii.i] AS DOUBLE) * {UNIT})
                       AS BIGINT)) AS BIGINT) AS units,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i) ii
  {where}
  GROUP BY label, ii.i),
c{suffix} AS (
  SELECT label, list(CAST(units AS DOUBLE) / {UNIT} / n ORDER BY i) AS c
  FROM u{suffix} GROUP BY label)"""


_CLASSIFY_ORACLE = f"""
WITH {_cent_ctes("", "")},
cos AS (
  SELECT e.vec_id, e.label AS true_label, ct.label AS cand,
         {COSINE('e.embedding', 'ct.c')} AS cs
  FROM embeddings e, c ct),
pred AS (
  SELECT true_label, cand AS pred_label FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cs DESC, cand) AS rn
    FROM cos) WHERE rn = 1)
SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY true_label, pred_label
"""


def label_centroids(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> DataFrame:
    """(label, c array<double>): per-label mean embedding via one 65-agg
    hash aggregation in integer units — no corpus explode, no lists.
    ``frame`` overrides the source slice (the learning-curve key trains
    on nested subsets); default is the full embeddings table."""
    e = frame if frame is not None else t(spark, sf_dir, "embeddings")
    agg = e.groupBy("label").agg(
        *[
            F.sum(
                F.floor(
                    F.element_at("embedding", i).cast("double") * F.lit(UNIT)
                ).cast("long")
            )
            .cast("long")
            .alias(f"u{i}")
            for i in range(1, DIM + 1)
        ],
        F.count("*").alias("n"),
    )
    return agg.select(
        "label",
        F.array(
            *[
                (F.col(f"u{i}").cast("double") / F.lit(UNIT) / F.col("n"))
                for i in range(1, DIM + 1)
            ]
        ).alias("c"),
    )


@query("ml_centroid_classify", oracle=_CLASSIFY_ORACLE, category="L")
def ml_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit per-label centroids, classify every vector by best-cosine
    centroid (ties to the lowest label), return the confusion matrix
    (true_label, pred_label, n). The diagonal mass is the resubstitution
    accuracy of the corpus-routing classifier."""
    cents_row = (
        label_centroids(spark, sf_dir)
        .groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("label", "c"))).alias(
                "pairs"
            )
        )
        .select(F.transform("pairs", lambda p: p["c"]).alias("clist"))
    )
    e = t(spark, sf_dir, "embeddings").crossJoin(F.broadcast(cents_row))
    # cosine() spelled out so the query norm is folded once per row, not
    # once per centroid; same op order, same bits.
    coss = map_with(
        F.sequence(F.lit(0), F.size("clist") - 1),
        l2_norm(F.col("embedding")),
        lambda l, na: dot(F.col("embedding"), F.element_at("clist", l + 1))
        / (na * l2_norm(F.element_at("clist", l + 1))),
    )
    pred = (F.array_position(coss, F.array_max(coss)) - 1).cast("int")
    return (
        e.select(
            F.col("label").alias("true_label"), pred.alias("pred_label")
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count("*").alias("n"))
    )


# --- multinomial naive Bayes language ID (round 5 cont.) ----------------

_NB_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk
  FROM documents),
vocab AS (SELECT DISTINCT tk FROM tok),
vstat AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
cls AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM tok GROUP BY lang),
cnt AS (SELECT lang, tk, CAST(COUNT(*) AS BIGINT) AS n_tl
        FROM tok GROUP BY lang, tk),
lik AS (
  SELECT c.lang, vb.tk,
         ROUND(LN(CAST(COALESCE(ct.n_tl, 0) + 1 AS DOUBLE)
                  / CAST(c.n_l + v.v AS DOUBLE)), 6) AS lp
  FROM cls c CROSS JOIN vocab vb CROSS JOIN vstat v
  LEFT JOIN cnt ct ON ct.lang = c.lang AND ct.tk = vb.tk),
prior AS (
  SELECT lang,
         ROUND(LN(CAST(COUNT(*) AS DOUBLE)
                  / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)), 6)
             AS lprior
  FROM documents GROUP BY lang),
scores AS (
  SELECT t.doc_id, l.lang,
         CAST(SUM(CAST(l.lp AS DECIMAL(18,6))) AS DOUBLE) + p.lprior
             AS score
  FROM (SELECT doc_id, tk FROM tok) t
  JOIN lik l ON t.tk = l.tk
  JOIN prior p ON p.lang = l.lang
  GROUP BY t.doc_id, l.lang, p.lprior),
pred AS (
  SELECT doc_id, lang AS pred_lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang) AS rn
  FROM scores)
SELECT p.doc_id, p.pred_lang, d.lang AS true_lang,
       p.pred_lang = d.lang AS correct
FROM pred p JOIN documents d ON p.doc_id = d.doc_id
WHERE rn = 1
"""


@query("ml_naive_bayes_langid", oracle=_NB_ORACLE, category="L")
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language ID with add-one smoothing,
    trained and evaluated on the corpus (resubstitution accuracy — the
    honest framing; ``docs_split_leakage_check`` is where held-out
    hygiene lives). The probabilistic counterpart of the n-gram
    heuristic ``text_langid_ngram``.

    Cross-engine exactness: every count is BIGINT; each token
    log-likelihood is ROUND(LN(count ratio), 6) — a 6dp decimal, so the
    per-(doc, class) score is an order-free DECIMAL sum (the
    ``agg_geometric_mean_log`` discipline: an unrounded float log-sum
    would be summation-order-dependent); the argmax breaks ties on the
    class label.

    Scale: training is two grouped counts; the smoothed likelihood
    table is |vocab × classes| → broadcast into the scoring join; the
    score pass is one (doc, class) aggregation after a |classes|-way
    token fan-out. No iteration."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tk")
    )
    vocab = tok.select("tk").distinct()
    vstat = vocab.agg(F.count("*").alias("v"))
    cls = tok.groupBy("lang").agg(F.count("*").alias("n_l"))
    cnt = tok.groupBy("lang", "tk").agg(F.count("*").alias("n_tl"))
    lik = (
        cls.crossJoin(vocab)
        .crossJoin(F.broadcast(vstat))
        .join(cnt, ["lang", "tk"], "left")
        .select(
            "lang",
            "tk",
            F.round(
                F.log(
                    (F.coalesce(F.col("n_tl"), F.lit(0)) + 1).cast("double")
                    / (F.col("n_l") + F.col("v")).cast("double")
                ),
                6,
            ).alias("lp"),
        )
    )
    total = d.agg(F.count("*").alias("n_docs"))
    prior = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_d"))
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.round(
                F.log(
                    F.col("n_d").cast("double")
                    / F.col("n_docs").cast("double")
                ),
                6,
            ).alias("lprior"),
        )
    )
    scores = (
        tok.select("doc_id", "tk")
        .join(F.broadcast(lik), "tk")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("lp").cast("decimal(18,6)"))
            .cast("double")
            .alias("s"),
        )
        .join(F.broadcast(prior), "lang")
        .select(
            "doc_id",
            "lang",
            (F.col("s") + F.col("lprior")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang")
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    return pred.join(
        d.select("doc_id", F.col("lang").alias("true_lang")), "doc_id"
    ).select(
        "doc_id",
        "pred_lang",
        "true_lang",
        (F.col("pred_lang") == F.col("true_lang")).alias("correct"),
    )


# --- ml_logreg_gd_fixed (round 5) -----------------------------------------
#
# Distributed logistic-regression training as a STATIC 3-step gradient-
# descent DAG — the "can your engine train a linear model without leaving
# SQL/DataFrame land?" benchmark (cf. MADlib / BigQuery ML's CREATE MODEL
# with logistic_reg). Each step is one map-side-combinable aggregation of
# three gradient sums + a 1-row broadcast of updated weights; nothing is
# collected, the iteration count is fixed so the whole train+eval is one
# Catalyst plan. At 100 TB each step is a single partial+final agg scan —
# the textbook batch-GD layout on a cluster.
#
# Cross-engine exactness (no rounding tolerance anywhere):
# - weights live as BIGINT micro-units (w * 1e6) — broadcast-joined back,
#   so the margin z_units = w0u + w1u*x1 + w2u*x2 is pure int64 and exact;
# - the link is the algebraic fast sigmoid 0.5 + z/(2(1+|z|)) — rational,
#   no libm exp(); computed in IEEE doubles from identical inputs it is
#   bit-identical on both engines;
# - per-row gradient terms are rounded to DECIMAL(18,6) before the SUM
#   (exact.py discipline: order-free exact decimal accumulation);
# - the weight update (w - 0.05·s/n, then ×1e6 and round to BIGINT) is a
#   fixed parenthesized IEEE sequence, identical on both engines.

LOGREG_ITERS = 3
# Features are centered with FIXED constants (26 ≈ E[quantity] for TPC-H's
# uniform 1..50; 5 ≈ E[discount·100] for uniform 0..0.10) rather than
# data-derived means: a constant shift keeps the pipeline one pass and the
# margins near the boundary (un-centered, the intercept gradient saturates
# the fast sigmoid and the model degenerates to majority-vote).
_LR = "0.05"  # learning rate (exact literal shared by both engines)
_WSCALE = "1000000.0"

_LOGREG_DATA = """
  SELECT CAST(round(l_quantity) AS BIGINT) - 26 AS x1,
         CAST(round(l_discount * 100.0) AS BIGINT) - 5 AS x2,
         CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM lineitem
"""

# residual r = sigmoid(z) - y from integer weight units (identical string
# drives Spark's codegen and DuckDB):
_Z = f"(CAST(w0u + w1u * x1 + w2u * x2 AS DOUBLE) / {_WSCALE})"
_R = f"((0.5 + ({_Z} / (2.0 * (1.0 + abs({_Z}))))) - y)"


def _upd_expr(j: int) -> str:
    """w_ju_next = round((w_ju/1e6 - (lr·s_j)/n) · 1e6) as BIGINT."""
    return (
        f"CAST(round((CAST(w{j}u AS DOUBLE) / {_WSCALE}"
        f" - ({_LR} * s{j}) / n) * {_WSCALE}) AS BIGINT)"
    )


def _upd(j: int) -> str:
    return f"{_upd_expr(j)} AS w{j}u"


def _logreg_step(i: int) -> str:
    prev = f"it{i - 1}"
    return f"""
g{i} AS (
  SELECT
    CAST(SUM(CAST({_R} AS DECIMAL(18,6))) AS DOUBLE) AS s0,
    CAST(SUM(CAST({_R} * x1 AS DECIMAL(18,6))) AS DOUBLE) AS s1,
    CAST(SUM(CAST({_R} * x2 AS DECIMAL(18,6))) AS DOUBLE) AS s2
  FROM data, {prev}),
it{i} AS (
  SELECT {_upd(0)}, {_upd(1)}, {_upd(2)}
  FROM it{i - 1}, g{i}, nn)
"""


_LOGREG_ORACLE = (
    f"""
WITH data AS ({_LOGREG_DATA}),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM data),
it0 AS (SELECT CAST(0 AS BIGINT) AS w0u,
               CAST(0 AS BIGINT) AS w1u,
               CAST(0 AS BIGINT) AS w2u),
"""
    + ",".join(_logreg_step(i) for i in range(1, LOGREG_ITERS + 1))
    + f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(w0u) AS DOUBLE) / {_WSCALE} AS w_intercept,
       CAST(MIN(w1u) AS DOUBLE) / {_WSCALE} AS w_quantity,
       CAST(MIN(w2u) AS DOUBLE) / {_WSCALE} AS w_discount,
       CAST(SUM(CASE WHEN (CASE WHEN w0u + w1u * x1 + w2u * x2 > 0
                           THEN 1 ELSE 0 END) = y
                THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
FROM data, it{LOGREG_ITERS}
"""
)


@query("ml_logreg_gd_fixed", oracle=_LOGREG_ORACLE, category="L")
def ml_logreg_gd_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step batch-gradient-descent logistic regression predicting
    return status from quantity/discount, trained and evaluated in one
    static DataFrame DAG (see block comment: integer-unit weights,
    algebraic sigmoid, decimal-exact gradient sums — bit-identical to
    the SQL oracle with zero tolerance)."""
    li = t(spark, sf_dir, "lineitem")
    data = li.select(
        F.expr("CAST(round(l_quantity) AS BIGINT) - 26").alias("x1"),
        F.expr("CAST(round(l_discount * 100.0) AS BIGINT) - 5").alias("x2"),
        F.expr(
            "CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("y"),
    )
    nn = data.agg(F.count("*").cast("double").alias("n"))
    w = spark.range(1).select(
        F.lit(0).cast("bigint").alias("w0u"),
        F.lit(0).cast("bigint").alias("w1u"),
        F.lit(0).cast("bigint").alias("w2u"),
    )
    for _ in range(LOGREG_ITERS):
        g = (
            data.crossJoin(F.broadcast(w))
            .agg(
                F.expr(
                    f"CAST(SUM(CAST({_R} AS DECIMAL(18,6))) AS DOUBLE)"
                ).alias("s0"),
                F.expr(
                    f"CAST(SUM(CAST({_R} * x1 AS DECIMAL(18,6))) AS DOUBLE)"
                ).alias("s1"),
                F.expr(
                    f"CAST(SUM(CAST({_R} * x2 AS DECIMAL(18,6))) AS DOUBLE)"
                ).alias("s2"),
            )
        )
        w = (
            w.crossJoin(F.broadcast(g))
            .crossJoin(F.broadcast(nn))
            .select(
                F.expr(_upd_expr(0)).alias("w0u"),
                F.expr(_upd_expr(1)).alias("w1u"),
                F.expr(_upd_expr(2)).alias("w2u"),
            )
        )
    return (
        data.crossJoin(F.broadcast(w))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr(
                f"CAST(MIN(w0u) AS DOUBLE) / {_WSCALE}"
            ).alias("w_intercept"),
            F.expr(
                f"CAST(MIN(w1u) AS DOUBLE) / {_WSCALE}"
            ).alias("w_quantity"),
            F.expr(
                f"CAST(MIN(w2u) AS DOUBLE) / {_WSCALE}"
            ).alias("w_discount"),
            F.expr(
                "CAST(SUM(CASE WHEN (CASE WHEN w0u + w1u * x1 + w2u * x2 > 0"
                " THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END) AS DOUBLE)"
                " / COUNT(*)"
            ).alias("accuracy"),
        )
    )


# --- learning-curve points (round 10) -------------------------------------

LC_FRACTIONS = (25, 50, 100)  # percent of the train pool used per point
LC_EVAL_MOD = 5  # vec_id % 5 == 3 -> held-out eval set


def _lc_point_sql(p: int) -> str:
    train = (
        f"vec_id % {LC_EVAL_MOD} <> 3 AND "
        f"{MD5_BIGINT('CAST(vec_id AS VARCHAR)')} % 100 < {p}"
    )
    return f"""
{_cent_ctes(f"WHERE {train}", str(p))},
nt{p} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM embeddings
  WHERE {train}),
pred{p} AS (
  SELECT true_label = cand AS correct FROM (
    SELECT e.vec_id, e.label AS true_label, ct.label AS cand,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {COSINE('e.embedding', 'ct.c')} DESC,
                        ct.label) AS rn
    FROM embeddings e, c{p} ct
    WHERE e.vec_id % {LC_EVAL_MOD} = 3) WHERE rn = 1),
row{p} AS (
  -- global aggregate + scalar subquery: exactly ONE row per point
  -- even on a degenerate slice (empty train pool or eval set), the
  -- shape the Spark side's .agg() + crossJoin always produces
  SELECT {p} AS pct,
         (SELECT n_train FROM nt{p}) AS n_train,
         CAST(COUNT(*) AS BIGINT) AS n_eval,
         CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
         CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS accuracy
  FROM pred{p})"""


_LC_ORACLE = (
    "WITH "
    + ",".join(_lc_point_sql(p) for p in LC_FRACTIONS)
    + "\n"
    + " UNION ALL ".join(f"SELECT * FROM row{p}" for p in LC_FRACTIONS)
)


@query("ml_learning_curve_points", oracle=_LC_ORACLE, category="L")
def ml_learning_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNING-CURVE measurement — accuracy of the per-label centroid
    classifier at {LC_FRACTIONS}% of the training pool against ONE
    fixed held-out eval set (vec_id % {LC_EVAL_MOD} == 3): the
    how-much-data-do-we-need observability every scaling decision rests
    on. Train subsets are md5-NESTED (pct p is a superset of every
    p' < p — the same hash draw against a growing threshold), so the
    curve varies only the data budget, never the data identity — the
    discipline scaling-law studies require.

    Exactness: centroids are the integer-unit sums of
    ``ml_centroid_classify``; the argmax orders by (fold cosine DESC,
    label); accuracies are single mirrored divisions.

    Scale: per point, ONE 65-agg hash aggregation over the train slice
    (map-side combined) and one broadcast classify pass over the eval
    set — the whole curve is {len(LC_FRACTIONS)} static branches of
    the classify plan, unioned; no loop depends on data."""
    e = t(spark, sf_dir, "embeddings")
    hash_draw = md5_bigint(F.col("vec_id").cast("string")) % 100
    eval_set = e.filter(F.col("vec_id") % LC_EVAL_MOD == 3).select(
        "vec_id", F.col("label").alias("true_label"), "embedding"
    )
    out = None
    for p in LC_FRACTIONS:
        train = e.filter(
            (F.col("vec_id") % LC_EVAL_MOD != 3) & (hash_draw < p)
        )
        # the integer-unit centroid machinery lives in ONE place
        cents = label_centroids(spark, sf_dir, frame=train)
        n_train = train.agg(
            F.count("*").cast("bigint").alias("n_train")
        )
        wv = Window.partitionBy("vec_id").orderBy(
            F.col("cs").desc(), F.col("cand")
        )
        pred = (
            eval_set.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "true_label",
                F.col("label").alias("cand"),
                cosine(F.col("embedding"), F.col("c")).alias("cs"),
            )
            .withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select(
                (F.col("true_label") == F.col("cand")).alias("correct")
            )
        )
        n_correct = F.sum(F.when(F.col("correct"), 1).otherwise(0))
        row = (
            pred.agg(
                F.count("*").cast("bigint").alias("n_eval"),
                n_correct.cast("bigint").alias("n_correct"),
                (n_correct.cast("double") / F.count("*")).alias("accuracy"),
            )
            .crossJoin(F.broadcast(n_train))
            .select(
                F.lit(p).cast("int").alias("pct"),
                "n_train",
                "n_eval",
                "n_correct",
                "accuracy",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
