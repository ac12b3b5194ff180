"""ML feature-preparation & evaluation, batch 2 (round 5 cont.):
exact quantile binning, smoothed target encoding, and a thresholded
confusion matrix — the tabular-feature counterparts of the text/embedding
prep in this package.

Exactness: ranks and counts are integers; every money sum is decimal-cast
(dbsuite_spark.exact); the derived doubles mirror the oracle expression
shape operation-for-operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbsuite_spark.exact import BIGCOUNT, DSUM, MD5_BIGINT, dsum, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

# --- exact quantile binning --------------------------------------------

_QB_BINS = 4

_QBIN_ORACLE = f"""
WITH r AS (
  SELECT o_totalprice AS v,
         CAST(rank() OVER (ORDER BY o_totalprice) AS BIGINT) AS rk,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM orders)
SELECT CAST(((rk - 1) * {_QB_BINS}) // n AS INT) AS bin,
       {BIGCOUNT()} AS n_rows,
       MIN(v) AS lo, MAX(v) AS hi,
       {DSUM('v')} / COUNT(*) AS mean_v
FROM r GROUP BY 1
"""


@query("ml_feature_quantile_bin", oracle=_QBIN_ORACLE, category="L")
def ml_feature_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency (quantile) binning of a numeric feature:
    every order lands in one of 4 bins by the min-rank of its price, with
    per-bin count / range / mean — the discretization step feature
    pipelines run before monotone models and WOE encoding.

    Tie semantics: equal values share a min-rank, hence always the same
    bin (unlike NTILE, which splits ties across bins nondeterministically
    under partial orders).

    Scale: NOT a global row sort. Ranks come from the classic compressed
    two-pass: (1) aggregate to distinct values with counts (partial
    map-side agg — the only fact-sized shuffle), (2) a prefix-sum window
    over the *distinct-value* spine yields each value's min-rank, (3) the
    spine joins back to assign bins. The spine is |distinct| rows —
    orders of magnitude smaller than the fact at 100 TB; its single-
    partition prefix window is the same compromise every distributed
    ranking (including Spark's own rank) makes, on far less data. The
    join back is spine-sized → broadcastable."""
    o = t(spark, sf_dir, "orders")
    vals = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count("*").alias("c")
    )
    w_prev = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spine = vals.select(
        "v",
        "c",
        (F.coalesce(F.sum("c").over(w_prev), F.lit(0)) + 1).alias("rk"),
        F.sum("c").over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    ).select(
        "v",
        # Integer floor-division, matching the oracle's `//` exactly —
        # no double rounding in the bin id.
        F.expr(f"CAST(((rk - 1) * {_QB_BINS}) div n AS INT)").alias("bin"),
    )
    binned = o.join(
        F.broadcast(spine), o.o_totalprice == spine.v
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_rows"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        (dsum(F.col("v")) / F.count("*")).alias("mean_v"),
    )


# --- smoothed target encoding ------------------------------------------

_TE_M = 10.0  # smoothing pseudo-count

_TENC_ORACLE = f"""
WITH g AS (
  SELECT {DSUM('o_totalprice')} AS gs, {BIGCOUNT()} AS gn FROM orders),
c AS (
  SELECT o_orderpriority, {BIGCOUNT()} AS n,
         {DSUM('o_totalprice')} AS s
  FROM orders GROUP BY 1)
SELECT c.o_orderpriority, c.n,
       c.s / CAST(c.n AS DOUBLE) AS cat_mean,
       (c.s + {_TE_M} * (g.gs / CAST(g.gn AS DOUBLE)))
           / (CAST(c.n AS DOUBLE) + {_TE_M}) AS encoded
FROM c, g
"""


@query("ml_target_encode_smooth", oracle=_TENC_ORACLE, category="L")
def ml_target_encode_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed (additive / empirical-Bayes) target encoding of a
    categorical feature: per-category target mean shrunk toward the
    global mean with pseudo-count m — the standard high-cardinality
    categorical encoder, where raw per-category means overfit rare
    levels.

    Scale: one partial+final aggregation per arm — the per-category agg
    shuffles |categories| rows, the global agg is a 1-row broadcast
    cross-join; the encoder table this emits is dimension-sized and
    itself broadcastable into the training join. Decimal sums keep the
    means exact at any row count."""
    o = t(spark, sf_dir, "orders")
    g = o.agg(
        dsum(F.col("o_totalprice")).alias("gs"),
        F.count("*").alias("gn"),
    )
    c = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        dsum(F.col("o_totalprice")).alias("s"),
    )
    nd = F.col("n").cast("double")
    return c.crossJoin(F.broadcast(g)).select(
        "o_orderpriority",
        "n",
        (F.col("s") / nd).alias("cat_mean"),
        (
            (F.col("s")
             + F.lit(_TE_M) * (F.col("gs") / F.col("gn").cast("double")))
            / (nd + F.lit(_TE_M))
        ).alias("encoded"),
    )


# --- thresholded confusion matrix --------------------------------------

_CM_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS score,
         (user_id % 5 = 0) AS label
  FROM events GROUP BY user_id),
thr AS (
  SELECT CAST(SUM(score) AS DOUBLE) / COUNT(*) AS cut FROM per_user),
pred AS (
  SELECT label, CAST(score AS DOUBLE) >= thr.cut AS yhat
  FROM per_user, thr),
cm AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE label AND yhat) AS BIGINT) AS tp,
    CAST(COUNT(*) FILTER (WHERE NOT label AND yhat) AS BIGINT) AS fp,
    CAST(COUNT(*) FILTER (WHERE label AND NOT yhat) AS BIGINT) AS fn,
    CAST(COUNT(*) FILTER (WHERE NOT label AND NOT yhat) AS BIGINT) AS tn
  FROM pred),
pr AS (
  SELECT tp, fp, fn, tn,
         CASE WHEN tp + fp = 0 THEN NULL
              ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
             AS precision_,
         CASE WHEN tp + fn = 0 THEN NULL
              ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
             AS recall_
  FROM cm)
SELECT tp, fp, fn, tn, precision_, recall_,
       CASE WHEN precision_ IS NULL OR recall_ IS NULL
                 OR precision_ + recall_ = 0 THEN NULL
            ELSE 2 * precision_ * recall_ / (precision_ + recall_)
       END AS f1
FROM pr
"""


@query("ml_confusion_matrix", oracle=_CM_ORACLE, category="L")
def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded-classifier confusion matrix + precision/recall/F1,
    on the same deterministic score/label substrate as
    ``ml_auc_rank_eval`` (score = per-user event count, label =
    user_id % 5, threshold = global mean score — scale-invariant).
    AUC grades the ranking; this grades the operating point.

    Every cell is an integer count; the P/R/F1 doubles divide those
    integers with explicit zero-guards (NULL, never Inf/NaN — Spark and
    DuckDB disagree on bare double/0).

    Scale: per-user scores are one partial+final count; the threshold is
    a 1-row broadcast; the four cells fold into a single filtered-count
    aggregation. O(scan), no wide shuffle."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("score")).select(
        (F.col("user_id") % 5 == 0).alias("label"), "score"
    )
    thr = per_user.agg(
        (F.sum("score").cast("double") / F.count("*")).alias("cut")
    )
    pred = per_user.crossJoin(F.broadcast(thr)).select(
        "label", (F.col("score").cast("double") >= F.col("cut")).alias("yhat")
    )
    lab, yh = F.col("label"), F.col("yhat")
    cm = pred.agg(
        F.count_if(lab & yh).alias("tp"),
        F.count_if(~lab & yh).alias("fp"),
        F.count_if(lab & ~yh).alias("fn"),
        F.count_if(~lab & ~yh).alias("tn"),
    )
    tp = F.col("tp").cast("double")
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(None)).otherwise(
        tp / (F.col("tp") + F.col("fp")).cast("double")
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(None)).otherwise(
        tp / (F.col("tp") + F.col("fn")).cast("double")
    )
    pr = cm.select(
        "tp", "fp", "fn", "tn",
        prec.alias("precision_"), rec.alias("recall_"),
    )
    p_, r_ = F.col("precision_"), F.col("recall_")
    f1 = F.when(
        p_.isNull() | r_.isNull() | (p_ + r_ == 0), F.lit(None)
    ).otherwise(F.lit(2) * p_ * r_ / (p_ + r_)).alias("f1")
    return pr.select("tp", "fp", "fn", "tn", "precision_", "recall_", f1)


# --- decile lift / gains table -----------------------------------------

_LIFT_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS score,
         (user_id % 5 = 0) AS label
  FROM events GROUP BY user_id),
ranked AS (
  SELECT label,
         CAST(rank() OVER (ORDER BY score DESC) AS BIGINT) AS rk,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM per_user),
dec AS (
  SELECT CAST(((rk - 1) * 10) // n AS INT) AS decile,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS n_pos
  FROM ranked GROUP BY 1),
cum AS (
  SELECT decile, n_users, n_pos,
         CAST(SUM(n_users) OVER w AS BIGINT) AS cum_users,
         CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
         CAST(SUM(n_users) OVER () AS BIGINT) AS tot_users,
         CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
  FROM dec
  WINDOW w AS (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT decile, n_users, n_pos,
       CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE) AS response_rate,
       (CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE))
           / (CAST(tot_pos AS DOUBLE) / CAST(tot_users AS DOUBLE)) AS lift,
       (CAST(cum_pos AS DOUBLE) / CAST(cum_users AS DOUBLE))
           / (CAST(tot_pos AS DOUBLE) / CAST(tot_users AS DOUBLE))
           AS cum_lift
FROM cum
"""


@query("ml_lift_curve", oracle=_LIFT_ORACLE, category="L")
def ml_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table on the package's deterministic
    score/label substrate (score = per-user event count, label =
    user_id % 5): users ranked by score into min-rank deciles, per-decile
    response rate, lift vs the global rate, and cumulative lift — the
    targeting-model report every campaign review reads, complementing
    ``ml_auc_rank_eval`` (ranking) and ``ml_confusion_matrix``
    (operating point).

    All cells are integer counts; every rate is a mirrored division.
    Min-rank deciles are tie-stable (ties share a bin — NTILE would
    split them). Scale: the user rollup is the only fact-sized shuffle;
    the rank/decile windows run on the reduced user table (the
    ``events_rfm_segmentation`` compromise), and the cumulative pass on
    10 rows."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("score")).select(
        (F.col("user_id") % 5 == 0).alias("label"), "score"
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_user.select(
        "label",
        F.rank().over(Window.orderBy(F.col("score").desc())).alias("rk"),
        F.count("*").over(w_all).alias("n"),
    )
    dec = (
        ranked.withColumn(
            "decile", F.expr("CAST(((rk - 1) * 10) div n AS INT)")
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.count_if(F.col("label")).alias("n_pos"),
        )
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = dec.select(
        "decile", "n_users", "n_pos",
        F.sum("n_users").over(w_cum).alias("cum_users"),
        F.sum("n_pos").over(w_cum).alias("cum_pos"),
        F.sum("n_users").over(w_tot).alias("tot_users"),
        F.sum("n_pos").over(w_tot).alias("tot_pos"),
    )
    rate = F.col("n_pos").cast("double") / F.col("n_users").cast("double")
    grate = F.col("tot_pos").cast("double") / F.col("tot_users").cast("double")
    crate = F.col("cum_pos").cast("double") / F.col("cum_users").cast("double")
    return cum.select(
        "decile", "n_users", "n_pos",
        rate.alias("response_rate"),
        (rate / grate).alias("lift"),
        (crate / grate).alias("cum_lift"),
    )


# --- population stability index (PSI) drift ----------------------------

_PSI_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS score,
         CAST(user_id % 2 AS INT) AS pop
  FROM events GROUP BY user_id),
binned AS (
  SELECT pop, CAST(FLOOR(LOG2(score)) AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM per_user GROUP BY 1, 2),
e AS (SELECT bin, n AS n_exp,
             CAST(SUM(n) OVER () AS BIGINT) AS tot_exp
      FROM binned WHERE pop = 0),
a AS (SELECT bin, n AS n_act,
             CAST(SUM(n) OVER () AS BIGINT) AS tot_act
      FROM binned WHERE pop = 1),
j AS (
  SELECT e.bin, n_exp, n_act,
         CAST(n_exp AS DOUBLE) / CAST(tot_exp AS DOUBLE) AS p_exp,
         CAST(n_act AS DOUBLE) / CAST(tot_act AS DOUBLE) AS p_act
  FROM e JOIN a ON e.bin = a.bin)
SELECT bin, n_exp, n_act, p_exp, p_act,
       (p_exp - p_act) * LN(p_exp / p_act) AS psi_term
FROM j
"""


@query("ml_psi_drift", oracle=_PSI_ORACLE, category="L")
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index terms between two score populations
    (even vs odd user_id — the deployment-time "expected vs actual"
    split): per-log2-bin shares and (p-q)·ln(p/q) — the model-monitoring
    drift metric. Emitted per bin over bins populated on BOTH sides
    (the epsilon-free variant); the scalar PSI is the consumer's sum —
    an unordered float total would be summation-order-dependent, the one
    hazard this package never ships.

    Scale: one user rollup (the fact shuffle), one |bins×2| aggregation,
    and a bins-sized join. Log2 binning is scale-invariant in the score
    magnitude, so the bin layout survives growth."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("score")).select(
        (F.col("user_id") % 2).cast("int").alias("pop"), "score"
    )
    binned = (
        per_user.select(
            "pop",
            F.floor(F.log2("score")).cast("int").alias("bin"),
        )
        .groupBy("pop", "bin")
        .agg(F.count("*").alias("n"))
    )
    w_tot = Window.partitionBy("pop").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sides = binned.withColumn("tot", F.sum("n").over(w_tot))
    ex = sides.filter(F.col("pop") == 0).select(
        "bin", F.col("n").alias("n_exp"), F.col("tot").alias("tot_exp")
    )
    ac = sides.filter(F.col("pop") == 1).select(
        "bin", F.col("n").alias("n_act"), F.col("tot").alias("tot_act")
    )
    p_exp = F.col("n_exp").cast("double") / F.col("tot_exp").cast("double")
    p_act = F.col("n_act").cast("double") / F.col("tot_act").cast("double")
    j = ex.join(ac, "bin").select(
        "bin", "n_exp", "n_act",
        p_exp.alias("p_exp"), p_act.alias("p_act"),
    )
    return j.select(
        "bin", "n_exp", "n_act", "p_exp", "p_act",
        (
            (F.col("p_exp") - F.col("p_act"))
            * F.log(F.col("p_exp") / F.col("p_act"))
        ).alias("psi_term"),
    )


# --- ROC curve points --------------------------------------------------

_ROC_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS score,
         (user_id % 5 = 0) AS label
  FROM events GROUP BY user_id),
by_score AS (
  SELECT score,
         CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS n_pos,
         CAST(COUNT(*) FILTER (WHERE NOT label) AS BIGINT) AS n_neg
  FROM per_user GROUP BY score),
cum AS (
  SELECT score,
         CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_tp,
         CAST(SUM(n_neg) OVER w AS BIGINT) AS cum_fp,
         CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos,
         CAST(SUM(n_neg) OVER () AS BIGINT) AS tot_neg
  FROM by_score
  WINDOW w AS (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT score AS threshold, cum_tp, cum_fp,
       CAST(cum_tp AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS tpr,
       CAST(cum_fp AS DOUBLE) / CAST(tot_neg AS DOUBLE) AS fpr
FROM cum
"""


@query("ml_roc_points", oracle=_ROC_ORACLE, category="L")
def ml_roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve points — one (TPR, FPR) operating point per distinct
    score threshold (predict positive when score ≥ t), on the package's
    deterministic score/label substrate. The curve whose area
    ``ml_auc_rank_eval`` computes and whose single point
    ``ml_confusion_matrix`` reports.

    Scale: per-score pos/neg counts compress the user table to
    |distinct scores| rows; the cumulative window and the mirrored TPR/
    FPR divisions run on that spine. Integer cells, exact divisions."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("score")).select(
        (F.col("user_id") % 5 == 0).alias("label"), "score"
    )
    by_score = per_user.groupBy("score").agg(
        F.count_if(F.col("label")).alias("n_pos"),
        F.count_if(~F.col("label")).alias("n_neg"),
    )
    w_cum = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = by_score.select(
        "score",
        F.sum("n_pos").over(w_cum).alias("cum_tp"),
        F.sum("n_neg").over(w_cum).alias("cum_fp"),
        F.sum("n_pos").over(w_tot).alias("tot_pos"),
        F.sum("n_neg").over(w_tot).alias("tot_neg"),
    )
    return cum.select(
        F.col("score").alias("threshold"),
        "cum_tp",
        "cum_fp",
        (F.col("cum_tp").cast("double") / F.col("tot_pos").cast("double"))
        .alias("tpr"),
        (F.col("cum_fp").cast("double") / F.col("tot_neg").cast("double"))
        .alias("fpr"),
    )


# --- inter-rater agreement (Cohen's kappa) -----------------------------

_KAPPA_ORACLE = """
WITH r AS (
  SELECT value > 50 AS a, value > 45 AS b FROM events),
cm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE a AND b) AS BIGINT) AS yy,
         CAST(COUNT(*) FILTER (WHERE a AND NOT b) AS BIGINT) AS yn,
         CAST(COUNT(*) FILTER (WHERE NOT a AND b) AS BIGINT) AS ny,
         CAST(COUNT(*) FILTER (WHERE NOT a AND NOT b) AS BIGINT) AS nn
  FROM r),
p AS (
  SELECT n, yy, yn, ny, nn,
         CAST(yy + nn AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         (CAST(yy + yn AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(yy + ny AS DOUBLE) / CAST(n AS DOUBLE))
         + (CAST(ny + nn AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(yn + nn AS DOUBLE) / CAST(n AS DOUBLE)) AS pe
  FROM cm)
SELECT n, yy, yn, ny, nn, po, pe,
       CASE WHEN pe = 1 THEN NULL ELSE (po - pe) / (1 - pe) END AS kappa
FROM p
"""


@query("ml_cohens_kappa", oracle=_KAPPA_ORACLE, category="L")
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic binary raters (two value
    thresholds standing in for two labeling heuristics): observed vs
    chance-expected agreement — the inter-annotator reliability gate a
    labeling pipeline runs before trusting weak labels.

    Four integer cells from one filtered-count pass; po/pe/kappa are
    mirrored divisions with a degenerate-pe guard. O(scan)."""
    a = F.col("value") > 50
    b = F.col("value") > 45
    cm = t(spark, sf_dir, "events").agg(
        F.count("*").alias("n"),
        F.count_if(a & b).alias("yy"),
        F.count_if(a & ~b).alias("yn"),
        F.count_if(~a & b).alias("ny"),
        F.count_if(~a & ~b).alias("nn"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("yy") + F.col("nn")).cast("double") / nd
    pe = (
        ((F.col("yy") + F.col("yn")).cast("double") / nd)
        * ((F.col("yy") + F.col("ny")).cast("double") / nd)
        + ((F.col("ny") + F.col("nn")).cast("double") / nd)
        * ((F.col("yn") + F.col("nn")).cast("double") / nd)
    )
    p = cm.select(
        "n", "yy", "yn", "ny", "nn", po.alias("po"), pe.alias("pe")
    )
    return p.select(
        "n", "yy", "yn", "ny", "nn", "po", "pe",
        F.when(F.col("pe") == 1, F.lit(None).cast("double"))
        .otherwise((F.col("po") - F.col("pe")) / (1 - F.col("pe")))
        .alias("kappa"),
    )


# --- quantile normalization (Q-Q mapping) ------------------------------

_QNORM_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS score,
         CAST(user_id % 2 AS INT) AS pop
  FROM events GROUP BY user_id),
espine AS (
  SELECT score AS ev, CAST(COUNT(*) AS BIGINT) AS c
  FROM per_user WHERE pop = 0 GROUP BY score),
eranked AS (
  SELECT ev, c,
         CAST(1 + COALESCE(SUM(c) OVER (ORDER BY ev
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS rk,
         CAST(SUM(c) OVER () AS BIGINT) AS n_e
  FROM espine),
oranked AS (
  SELECT user_id, score,
         CAST(rank() OVER (ORDER BY score) AS BIGINT) AS r_o,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_o
  FROM per_user WHERE pop = 1)
SELECT o.user_id, o.score,
       e.ev AS mapped_score
FROM oranked o
JOIN eranked e
  ON ((o.r_o - 1) * e.n_e) // o.n_o + 1 BETWEEN e.rk AND e.rk + e.c - 1
"""


@query("ml_quantile_normalize", oracle=_QNORM_ORACLE, category="L")
def ml_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (Q-Q mapping): every odd-population user
    score is replaced by the even population's value at the same
    quantile — the batch-effect / domain-shift corrector (microarray
    normalization, score calibration across cohorts). ENTIRELY integer:
    min-ranks on both sides, the target rank ((r-1)·n_e) div n_o + 1,
    and an interval lookup into the reference spine's rank ranges — no
    float appears anywhere, so the mapping is bit-exact by construction.

    Scale: both spines compress to distinct values (the
    ``ml_feature_quantile_bin`` two-pass); the reference spine is
    |distinct| rows → broadcast into the interval join; the fact is
    touched once per population rollup (each with its pushed-down
    parity filter)."""
    per_user = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("score"))
        .select(
            "user_id", "score",
            (F.col("user_id") % 2).cast("int").alias("pop"),
        )
    )
    espine = (
        per_user.filter(F.col("pop") == 0)
        .groupBy(F.col("score").alias("ev"))
        .agg(F.count("*").alias("c"))
    )
    w_prev = Window.orderBy("ev").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("ev").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    eranked = espine.select(
        "ev", "c",
        (F.coalesce(F.sum("c").over(w_prev), F.lit(0)) + 1)
        .cast("bigint").alias("rk"),
        F.sum("c").over(w_all).cast("bigint").alias("n_e"),
    )
    w_o = Window.orderBy("score")
    w_oall = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    oranked = per_user.filter(F.col("pop") == 1).select(
        "user_id", "score",
        F.rank().over(w_o).cast("bigint").alias("r_o"),
        F.count("*").over(w_oall).cast("bigint").alias("n_o"),
    )
    tgt = F.expr("((r_o - 1) * n_e) div n_o + 1")
    return oranked.join(
        F.broadcast(eranked),
        (tgt >= F.col("rk")) & (tgt <= F.col("rk") + F.col("c") - 1),
    ).select("user_id", "score", F.col("ev").alias("mapped_score"))


# --- deterministic k-fold assignment -------------------------------------

K_FOLDS = 5

_KFOLD_ORACLE = f"""
WITH f AS (
  SELECT CAST({MD5_BIGINT("CAST(doc_id AS VARCHAR)")} % {K_FOLDS} AS INT)
           AS fold,
         lang, n_chars
  FROM documents)
SELECT fold, {BIGCOUNT()} AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
FROM f GROUP BY fold
"""


@query("ml_kfold_assign", oracle=_KFOLD_ORACLE, category="L")
def ml_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {K_FOLDS}-fold cross-validation assignment with the
    per-fold balance summary a team inspects before launching K training
    runs: fold = ``exact.md5_bigint(doc_id)`` % {K_FOLDS} (content-id-keyed,
    so the folds are stable across reshards, snapshots, and engines; no
    rand(), no leakage when documents are re-ingested), summarized as doc
    count, distinct-language coverage, and exact character mass per fold.

    Scale: the assignment is a row-local hash; the summary is one
    partial+final aggregation over {K_FOLDS} groups — no other shuffle
    at any corpus size. Exactness: integer counts/sums; the mean is one
    double division mirrored in the oracle."""
    d = t(spark, sf_dir, "documents")
    f = d.select(
        (md5_bigint(F.col("doc_id").cast("string")) % K_FOLDS)
        .cast("int")
        .alias("fold"),
        "lang",
        "n_chars",
    )
    return f.groupBy("fold").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("mean_chars"),
    )


# --- Bradley-Terry preference ratings (round 10) -------------------------

BT_ITERS = 5  # fixed MM iterations — enough for the 5-item fixture duel
#                matrix; convergence pinned in tests/test_round10_semantics
BT_EPS = 1e-9  # MM rating floor (standard in BT implementations): a
#                zero-win item would hit s=0 after round 1 and the next
#                round's n_ij/(s_i+s_j) would diverge cross-engine
#                (Spark NULL vs DuckDB inf); greatest(s, eps) on BOTH
#                sides keeps every division finite and IEEE-identical


def _bt_step_sql(k: int) -> str:
    """One MM update r{k} -> r{k+1} as a CTE body (shared template so
    the oracle's five folds are assembled, not hand-copied — the
    ts_holt_winters discipline). MATERIALIZED because each round
    references its predecessor twice (si/sj): inlined, the oracle plan
    doubles per round (measured 5.1 s -> 0.07 s at sf0.1) — the DuckDB
    twin of the localCheckpoint the Spark side takes."""
    return f"""
r{k + 1} AS MATERIALIZED (
  SELECT n.i AS item,
         greatest(
           MAX(w.wins)::DOUBLE
             / list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE),
                              list(CAST(n.n_ij AS DOUBLE) / (si.s + sj.s)
                                   ORDER BY n.j)),
                 (a, b) -> a + b),
           {BT_EPS!r}) AS s
  FROM n
  JOIN r{k} si ON si.item = n.i
  JOIN r{k} sj ON sj.item = n.j
  JOIN wtot w ON w.i = n.i
  GROUP BY n.i)"""


def _bt_oracle() -> str:
    steps = ",".join(_bt_step_sql(k) for k in range(BT_ITERS))
    return f"""
WITH ut AS MATERIALIZED (
  SELECT user_id, event_type, MAX(ts) AS last_ts
  FROM events GROUP BY user_id, event_type),
duels AS (
  SELECT CASE WHEN a.last_ts > b.last_ts
                OR (a.last_ts = b.last_ts
                    AND a.event_type > b.event_type)
              THEN a.event_type ELSE b.event_type END AS w,
         CASE WHEN a.last_ts > b.last_ts
                OR (a.last_ts = b.last_ts
                    AND a.event_type > b.event_type)
              THEN b.event_type ELSE a.event_type END AS l
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type),
wg AS (SELECT w, l, CAST(COUNT(*) AS BIGINT) AS w_ij
       FROM duels GROUP BY w, l),
items AS (SELECT DISTINCT event_type AS item FROM events),
pairs AS (SELECT a.item AS i, b.item AS j
          FROM items a JOIN items b ON a.item <> b.item),
n AS MATERIALIZED (
  SELECT p.i, p.j,
         coalesce(w1.w_ij, 0) AS w_ij,
         coalesce(w1.w_ij, 0) + coalesce(w2.w_ij, 0) AS n_ij
  FROM pairs p
  LEFT JOIN wg w1 ON w1.w = p.i AND w1.l = p.j
  LEFT JOIN wg w2 ON w2.w = p.j AND w2.l = p.i),
wtot AS MATERIALIZED (SELECT i, CAST(SUM(w_ij) AS BIGINT) AS wins,
                CAST(SUM(n_ij) AS BIGINT) AS games
         FROM n GROUP BY i),
r0 AS MATERIALIZED (SELECT item, CAST(1.0 AS DOUBLE) AS s FROM items),
{steps},
tot AS (
  SELECT list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY item)),
           (a, b) -> a + b) AS tot
  FROM r{BT_ITERS})
SELECT r.item, w.wins, w.games,
       round(r.s / tot.tot, 6) AS rating,
       CAST(row_number() OVER (
         ORDER BY round(r.s / tot.tot, 6) DESC, r.item) AS INT) AS rank
FROM r{BT_ITERS} r, tot
JOIN wtot w ON w.i = r.item
"""


@query("ml_bradley_terry_fixed", oracle=_bt_oracle(), category="L")
def ml_bradley_terry_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY preference ratings via {BT_ITERS} fixed
    minorization-maximization iterations (Hunter 2004, public method) —
    the pairwise-comparison model behind RLHF reward-model data prep
    and chatbot-arena-style leaderboards. Duels are revealed
    preferences: for each user and each pair of event types both
    present in their history, the type with the later last occurrence
    wins (ties break on the type name — total order, deterministic).
    The MM update s_i <- max(W_i / SUM_j n_ij/(s_i+s_j), BT_EPS) runs
    {BT_ITERS} rounds from s=1 (the epsilon floor keeps a zero-win
    item's next-round divisions finite on both engines), then ratings
    normalize to sum 1.

    Exactness: the duel matrix is pure integer counting; every MM
    division is IEEE-identical on both engines because the per-item
    denominator folds terms in j-order (array_sort fold ≡ DuckDB
    list(... ORDER BY j) + list_reduce — the bit-identical-fold
    discipline of pipeline/vectors.py); only the FINAL rating is
    rounded (6dp) for the rank cut.

    Scale: one corpus shuffle builds the per-(user, item) summary
    (map-side combined); duel generation is a per-user self-join over
    that user's item set — bounded by the event-type alphabet here;
    with unbounded item sets, cap per-user items first (the
    CF_PART_CAP treatment in rec_user_cf_topk). Everything after is
    |items|²-sized, broadcast-local; the iteration frames are
    |items| rows — no collect, no driver loop, plan depth is the
    fixed {BT_ITERS}."""
    from dbsuite_spark.tables import memo_cache

    e = t(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.max("ts").alias("last_ts")
    )
    a = ut.select(
        "user_id",
        F.col("event_type").alias("ta"),
        F.col("last_ts").alias("la"),
    )
    b = ut.select(
        F.col("user_id").alias("user_b"),
        F.col("event_type").alias("tb"),
        F.col("last_ts").alias("lb"),
    )
    a_wins = (F.col("la") > F.col("lb")) | (
        (F.col("la") == F.col("lb")) & (F.col("ta") > F.col("tb"))
    )
    duels = a.join(
        b,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ta") < F.col("tb")),
    ).select(
        F.when(a_wins, F.col("ta")).otherwise(F.col("tb")).alias("w"),
        F.when(a_wins, F.col("tb")).otherwise(F.col("ta")).alias("l"),
    )
    wg = duels.groupBy("w", "l").agg(
        F.count("*").cast("bigint").alias("w_ij")
    )
    items = e.select(F.col("event_type").alias("item")).distinct()
    pairs = items.select(F.col("item").alias("i")).join(
        items.select(F.col("item").alias("j")),
        F.col("i") != F.col("j"),
    )
    n = memo_cache(
        pairs.join(
            wg.select(
                F.col("w").alias("i1"),
                F.col("l").alias("j1"),
                F.col("w_ij").alias("wf"),
            ),
            (F.col("i") == F.col("i1")) & (F.col("j") == F.col("j1")),
            "left",
        )
        .join(
            wg.select(
                F.col("w").alias("i2"),
                F.col("l").alias("j2"),
                F.col("w_ij").alias("wr"),
            ),
            (F.col("i") == F.col("j2")) & (F.col("j") == F.col("i2")),
            "left",
        )
        .select(
            "i",
            "j",
            F.coalesce(F.col("wf"), F.lit(0)).cast("bigint").alias("w_ij"),
            (
                F.coalesce(F.col("wf"), F.lit(0))
                + F.coalesce(F.col("wr"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_ij"),
        ),
        # consumed by every MM round (x{BT_ITERS}) plus the win totals
        f"bt_duel_matrix:{sf_dir}",
    )
    wtot = n.groupBy("i").agg(
        F.sum("w_ij").cast("bigint").alias("wins"),
        F.sum("n_ij").cast("bigint").alias("games"),
    )
    # per-round lazy checkpoint: si and sj both reference r, so without
    # lineage truncation the plan doubles every MM round (2^ITERS tree —
    # the MMR-diversify blowup, round 6)
    r = (
        items.select("item", F.lit(1.0).alias("s"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    for _ in range(BT_ITERS):
        si = r.select(F.col("item").alias("i"), F.col("s").alias("s_i"))
        sj = r.select(F.col("item").alias("j"), F.col("s").alias("s_j"))
        terms = (
            n.join(si, "i")
            .join(sj, "j")
            .select(
                "i",
                "j",
                (
                    F.col("n_ij").cast("double")
                    / (F.col("s_i") + F.col("s_j"))
                ).alias("term"),
            )
        )
        denom = terms.groupBy("i").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("j", "term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ).alias("denom")
        )
        r = (
            denom.join(wtot, "i")
            .select(
                F.col("i").alias("item"),
                F.greatest(
                    F.col("wins").cast("double") / F.col("denom"),
                    F.lit(BT_EPS),
                ).alias("s"),
            )
            .coalesce(1)
            .localCheckpoint(eager=False)
        )
    tot = r.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("item", "s"))),
            F.lit(0.0),
            lambda acc, x: acc + x["s"],
        ).alias("tot")
    )
    rating = F.round(F.col("s") / F.col("tot"), 6)
    return (
        r.crossJoin(F.broadcast(tot))
        .join(wtot.withColumnRenamed("i", "item"), "item")
        .select(
            "item",
            "wins",
            "games",
            rating.alias("rating"),
            F.row_number()
            .over(Window.orderBy(rating.desc(), F.col("item")))
            .cast("int")
            .alias("rank"),
        )
    )
