"""Experimentation & time-series statistics, batch 2 (round 5 cont.):
two-proportion z-test, lagged cross-correlation, windowed conditional
running aggregates, and linear multi-touch attribution — the remaining
report-layer statistics a metrics team runs on the event stream.

Cross-engine exactness discipline (dbsuite_spark.exact): every aggregate
is an integer count or a decimal-cast sum (order-independent on both
engines); the scalar IEEE arithmetic that follows is mirrored
operation-for-operation in the oracle so every double is bit-identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbsuite_spark.exact import DEC, MD5_BIGINT, md5_bigint
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

# --- two-proportion z-test ---------------------------------------------

_ZT_A, _ZT_B = "click", "view"
_ZT_CUT = 50.0  # "conversion" = value above the cut

_PROP_ZTEST_ORACLE = f"""
WITH s AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE event_type = '{_ZT_A}') AS BIGINT) AS n1,
    CAST(COUNT(*) FILTER (WHERE event_type = '{_ZT_A}' AND value > {_ZT_CUT})
         AS BIGINT) AS x1,
    CAST(COUNT(*) FILTER (WHERE event_type = '{_ZT_B}') AS BIGINT) AS n2,
    CAST(COUNT(*) FILTER (WHERE event_type = '{_ZT_B}' AND value > {_ZT_CUT})
         AS BIGINT) AS x2
  FROM events),
p AS (
  SELECT n1, x1, n2, x2,
         CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
         CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
         CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS p_pool
  FROM s)
SELECT n1, x1, n2, x2, p1, p2, p_pool,
       (p1 - p2) / SQRT(p_pool * (1 - p_pool)
                        * (1.0 / CAST(n1 AS DOUBLE)
                           + 1.0 / CAST(n2 AS DOUBLE))) AS z
FROM p
"""


@query("events_proportion_ztest", oracle=_PROP_ZTEST_ORACLE, category="E")
def events_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B two-proportion z-test: conversion (value > cut) rates of the
    click vs view arms, pooled-variance z statistic. Companion to
    ``events_ab_welch`` (means); this is the rates test every growth
    dashboard runs.

    Scale: one full scan with four filtered counts folded into a single
    partial+final aggregation (map-side combine, one 1-row exchange) —
    the whole test is O(scan) with no wide shuffle, so it runs unchanged
    on 100 TB of events. The z arithmetic is scalar post-aggregation."""
    e = t(spark, sf_dir, "events")
    is_a = F.col("event_type") == _ZT_A
    is_b = F.col("event_type") == _ZT_B
    conv = F.col("value") > _ZT_CUT
    s = e.agg(
        F.count_if(is_a).alias("n1"),
        F.count_if(is_a & conv).alias("x1"),
        F.count_if(is_b).alias("n2"),
        F.count_if(is_b & conv).alias("x2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    p1 = (F.col("x1").cast("double") / n1d).alias("p1")
    p2 = (F.col("x2").cast("double") / n2d).alias("p2")
    p_pool = (
        (F.col("x1") + F.col("x2")).cast("double")
        / (F.col("n1") + F.col("n2")).cast("double")
    ).alias("p_pool")
    p = s.select("n1", "x1", "n2", "x2", p1, p2, p_pool)
    z = (
        (F.col("p1") - F.col("p2"))
        / F.sqrt(
            F.col("p_pool")
            * (F.lit(1) - F.col("p_pool"))
            * (F.lit(1.0) / F.col("n1").cast("double")
               + F.lit(1.0) / F.col("n2").cast("double"))
        )
    ).alias("z")
    return p.select("n1", "x1", "n2", "x2", "p1", "p2", "p_pool", z)


# --- lagged cross-correlation ------------------------------------------

_XC_X, _XC_Y = "click", "purchase"
_XC_MAX_LAG = 6  # hours

_XCORR_ORACLE = f"""
WITH hx AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
         CAST(COUNT(*) AS BIGINT) AS xc
  FROM events WHERE event_type = '{_XC_X}' GROUP BY 1),
hy AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
         CAST(COUNT(*) AS BIGINT) AS yc
  FROM events WHERE event_type = '{_XC_Y}' GROUP BY 1),
lags AS (SELECT unnest(generate_series(0, {_XC_MAX_LAG})) AS lag),
m AS (
  SELECT l.lag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(hx.xc) AS BIGINT) AS sx,
         CAST(SUM(hy.yc) AS BIGINT) AS sy,
         CAST(SUM(hx.xc * hy.yc) AS BIGINT) AS sxy,
         CAST(SUM(hx.xc * hx.xc) AS BIGINT) AS sx2,
         CAST(SUM(hy.yc * hy.yc) AS BIGINT) AS sy2
  FROM lags l
  JOIN hy ON TRUE
  JOIN hx ON hx.h = hy.h + l.lag
  GROUP BY l.lag),
v AS (
  SELECT lag, n,
         CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num
  FROM m)
SELECT CAST(lag AS INT) AS lag, n,
       CASE WHEN vx <= 0 OR vy <= 0 THEN NULL
            ELSE num / (SQRT(vx) * SQRT(vy))
       END AS xcorr
FROM v
"""


@query("ts_cross_correlation", oracle=_XCORR_ORACLE, category="E")
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two hourly event series (does
    click activity lead purchases?): Pearson r at lags 0..6 h over the
    hours where both (lag-shifted) series have observations.

    All six sufficient statistics are BIGINT sums of hourly counts —
    exact and commutative on both engines; the r formula then runs in
    double from the double-cast stats (identical IEEE expression text →
    bit-identical), because the moment *products* exceed int64 under
    ANSI sessions once hourly counts grow. A nonpositive variance on
    either side yields NULL, never a division error or a sqrt NaN.

    Scale: the only fact-sized shuffle is the hourly rollup (partial
    count then one exchange on ~hours×types rows). The lag fan-out and
    the self-join run on the tiny rollup; the 7-row lag spine is
    broadcast. 100 TB of events still reduces to one rollup pass."""
    e = t(spark, sf_dir, "events")
    # F.floor before the cast: a bare cast truncates toward zero while
    # the oracle's // floors — identical only for ≥1970 epochs; floor
    # makes the bucket sign-correct for any timestamp (ADVICE r05).
    hour = F.floor(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / F.lit(3600)
    ).cast("bigint")
    hx = (
        e.filter(F.col("event_type") == _XC_X)
        .groupBy(hour.alias("h"))
        .agg(F.count("*").alias("xc"))
    )
    hy = (
        e.filter(F.col("event_type") == _XC_Y)
        .groupBy(hour.alias("h"))
        .agg(F.count("*").alias("yc"))
    )
    lags = spark.range(0, _XC_MAX_LAG + 1).select(F.col("id").alias("lag"))
    m = (
        hy.crossJoin(F.broadcast(lags))
        .join(hx, hx.h == hy.h + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n"),
            F.sum("xc").alias("sx"),
            F.sum("yc").alias("sy"),
            F.sum(F.col("xc") * F.col("yc")).alias("sxy"),
            F.sum(F.col("xc") * F.col("xc")).alias("sx2"),
            F.sum(F.col("yc") * F.col("yc")).alias("sy2"),
        )
    )
    # The moment products exceed int64 once hourly counts grow (ANSI
    # sessions would raise ARITHMETIC_OVERFLOW) — so the r formula runs
    # entirely in double from the double-cast BIGINT stats: identical
    # IEEE expression text on both engines → still bit-identical, at any
    # magnitude. A (rounding-)nonpositive variance yields NULL, never a
    # NaN from sqrt.
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    vx = nd * F.col("sx2").cast("double") - sxd * sxd
    vy = nd * F.col("sy2").cast("double") - syd * syd
    num = nd * F.col("sxy").cast("double") - sxd * syd
    xcorr = (
        F.when((vx <= 0) | (vy <= 0), F.lit(None).cast("double"))
        .otherwise(num / (F.sqrt(vx) * F.sqrt(vy)))
    ).alias("xcorr")
    return m.select(F.col("lag").cast("int").alias("lag"), "n", xcorr)


# --- windowed conditional running aggregates ---------------------------

_CONDRUN_ORACLE = f"""
SELECT user_id, event_id,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                OVER w AS BIGINT) AS run_purchases,
       CAST(SUM(CAST(CASE WHEN value > {_ZT_CUT} THEN value ELSE 0 END
                     AS DECIMAL(18,6))) OVER w AS DOUBLE) AS run_hi_value,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                OVER w AS DOUBLE)
           / CAST(row_number() OVER w AS DOUBLE) AS purchase_share
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("win_conditional_running", oracle=_CONDRUN_ORACLE, category="E")
def win_conditional_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running *conditional* aggregates per user timeline: cumulative
    purchase count, cumulative high-value spend, and the purchases-per-
    event share so far — the filtered-window idiom (CASE inside a frame)
    that plain running totals (``win_running_total``) can't express.

    The running money sum is decimal-cast inside the frame so every
    prefix is order-independent-exact; the share divides two exact
    integers. Tie-safety: (ts, event_id) is a total order.

    Scale: one hash-partition by user_id, one sort per partition, all
    three aggregates evaluated in the same window pass — identical cost
    profile to any single running total at 100 TB."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    hi_v = F.when(F.col("value") > _ZT_CUT, F.col("value")).otherwise(
        F.lit(0)
    )
    return t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.sum(is_p).over(w).cast("bigint").alias("run_purchases"),
        F.sum(hi_v.cast(DEC)).over(w).cast("double").alias("run_hi_value"),
        (
            F.sum(is_p).over(w).cast("double")
            / F.row_number().over(w).cast("double")
        ).alias("purchase_share"),
    )


# --- linear multi-touch attribution ------------------------------------

_ATTR_ORACLE = """
WITH fp AS (
  SELECT user_id, MIN(ts) AS fp_ts
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
touch AS (
  SELECT DISTINCT e.user_id, e.event_type
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.ts < fp.fp_ts AND e.event_type <> 'purchase'),
per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_touch FROM touch
  GROUP BY user_id)
SELECT t.event_type, CAST(p.n_touch AS INT) AS n_touch_types,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS DOUBLE) / CAST(p.n_touch AS DOUBLE) AS credit
FROM touch t JOIN per_user p ON t.user_id = p.user_id
GROUP BY t.event_type, p.n_touch
"""


@query("events_attribution_linear", oracle=_ATTR_ORACLE, category="E")
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every distinct channel a user
    touched before their first purchase shares the conversion credit
    equally (1/n each). Output stays grouped by (channel, n_touch) so the
    credit is a single exact division of two integers — summing the
    irrational 1/n shares would be float-order-dependent, the same
    decomposition ``win_first_touch_attribution`` avoids differently.

    Scale: first-purchase timestamps are one partial-min aggregation;
    the touch set is a distinct on (user, channel) after an equi-join on
    user_id (the per-user dimension, naturally co-partitioned); both
    follow-up aggs run on the compressed touch set. No fact×fact join."""
    e = t(spark, sf_dir, "events")
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp_ts"))
    )
    touch = (
        e.join(fp, "user_id")
        .filter((F.col("ts") < F.col("fp_ts"))
                & (F.col("event_type") != "purchase"))
        .select("user_id", "event_type")
        .distinct()
    )
    per_user = touch.groupBy("user_id").agg(F.count("*").alias("n_touch"))
    return (
        touch.join(per_user, "user_id")
        .groupBy("event_type", "n_touch")
        .agg(F.count("*").alias("n_users"))
        .select(
            "event_type",
            F.col("n_touch").cast("int").alias("n_touch_types"),
            "n_users",
            (
                F.col("n_users").cast("double")
                / F.col("n_touch").cast("double")
            ).alias("credit"),
        )
    )


# --- conversion latency ------------------------------------------------

_TTC_ORACLE = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY user_id),
fp AS (
  SELECT e.user_id, MIN(e.ts) AS first_purchase
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND e.ts > fv.first_view
  GROUP BY e.user_id)
SELECT fv.user_id, fv.first_view, fp.first_purchase,
       epoch_us(fp.first_purchase) - epoch_us(fv.first_view) AS latency_us
FROM fv JOIN fp ON fv.user_id = fp.user_id
"""


@query("events_time_to_convert", oracle=_TTC_ORACLE, category="E")
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency per user: first view → first subsequent
    purchase, in exact integer microseconds (second-grain epoch would
    expose DuckDB-rounds vs Spark-truncates on sub-second stamps) — the
    funnel-velocity metric
    behind ``events_funnel_conversion``'s counts (how MANY convert) and
    ``events_survival_km``'s curve (the distribution); this is the
    per-user fact table both aggregate.

    Scale: two conditional-min aggregations keyed by user_id plus one
    user-keyed join — the purchase side joins the first-view table
    before aggregating so the 'after the view' predicate filters
    map-side. Integer epoch arithmetic → bit-identical latencies."""
    e = t(spark, sf_dir, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return fv.join(fp, "user_id").select(
        "user_id",
        "first_view",
        "first_purchase",
        (
            F.unix_micros("first_purchase") - F.unix_micros("first_view")
        ).cast("bigint").alias("latency_us"),
    )


# --- Apdex score -------------------------------------------------------

APDEX_T = 50.0  # satisfied threshold; tolerating up to 4T

_APDEX_ORACLE = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) FILTER (WHERE value <= {APDEX_T}) AS BIGINT)
           AS n_satisfied,
       CAST(COUNT(*) FILTER (WHERE value > {APDEX_T}
                             AND value <= {4 * APDEX_T}) AS BIGINT)
           AS n_tolerating,
       CAST(COUNT(*) FILTER (WHERE value > {4 * APDEX_T}) AS BIGINT)
           AS n_frustrated,
       (CAST(COUNT(*) FILTER (WHERE value <= {APDEX_T}) AS DOUBLE)
        + CAST(COUNT(*) FILTER (WHERE value > {APDEX_T}
                                AND value <= {4 * APDEX_T}) AS DOUBLE) / 2)
           / CAST(COUNT(*) AS DOUBLE) AS apdex
FROM events GROUP BY event_type
"""


@query("events_apdex_score", oracle=_APDEX_ORACLE, category="E")
def events_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex (Application Performance Index) per event type: satisfied
    (≤ T), tolerating (≤ 4T), frustrated buckets over the value column,
    apdex = (satisfied + tolerating/2) / n — the SRE satisfaction score,
    companion to ``events_kpi_scorecard``'s latency percentiles.

    One partial+final filtered-count pass per the module's discipline;
    the score divides exact integers. O(scan) at any size."""
    sat = F.col("value") <= APDEX_T
    tol = (F.col("value") > APDEX_T) & (F.col("value") <= 4 * APDEX_T)
    fru = F.col("value") > 4 * APDEX_T
    g = t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count_if(sat).alias("n_satisfied"),
        F.count_if(tol).alias("n_tolerating"),
        F.count_if(fru).alias("n_frustrated"),
    )
    return g.select(
        "event_type", "n", "n_satisfied", "n_tolerating", "n_frustrated",
        (
            (F.col("n_satisfied").cast("double")
             + F.col("n_tolerating").cast("double") / 2)
            / F.col("n").cast("double")
        ).alias("apdex"),
    )


# --- WAPE forecast evaluation ------------------------------------------

_WAPE_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS actual
  FROM events GROUP BY 1, 2),
fc AS (
  SELECT event_type, d, actual,
         lag(actual) OVER (PARTITION BY event_type ORDER BY d) AS forecast
  FROM daily)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CAST(ABS(actual - forecast) AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(SUM(CAST(ABS(actual) AS DECIMAL(18,6))) AS DOUBLE)
           AS wape
FROM fc WHERE forecast IS NOT NULL
GROUP BY event_type
"""


@query("ts_wape_eval", oracle=_WAPE_ORACLE, category="E")
def ts_wape_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy evaluation by WAPE (weighted absolute
    percentage error) of the naive lag-1 forecast per daily series —
    the baseline every forecasting model (``ts_holt_linear``,
    ``ts_ewma``) must beat. WAPE = Σ|aᵗ−fᵗ| / Σ|aᵗ| is the
    scale-robust choice: unlike MAPE's per-row ratios (whose float sum
    is order-dependent and blows up on near-zero actuals), both WAPE
    sums are decimal-cast → order-free exact, with ONE final division.

    Scale: one daily rollup (the fact shuffle), one lag window per
    series, one grouped decimal aggregation."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
        )
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("actual"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    fc = daily.withColumn("forecast", F.lag("actual").over(w)).filter(
        F.col("forecast").isNotNull()
    )
    return fc.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        (
            F.sum(F.abs(F.col("actual") - F.col("forecast")).cast(DEC))
            .cast("double")
            / F.sum(F.abs(F.col("actual")).cast(DEC)).cast("double")
        ).alias("wape"),
    )


# --- SMA crossover signals ---------------------------------------------

SMA_SHORT, SMA_LONG = 3, 7  # days

_SMA_DAILY = """
SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
FROM events GROUP BY 1, 2
"""

_SMA_ORACLE = f"""
WITH daily AS ({_SMA_DAILY}),
sma AS (
  SELECT event_type, d,
         CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER ws AS DOUBLE)
             / CAST(COUNT(*) OVER ws AS DOUBLE) AS sma_short,
         CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER wl AS DOUBLE)
             / CAST(COUNT(*) OVER wl AS DOUBLE) AS sma_long
  FROM daily
  WINDOW ws AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN {SMA_SHORT - 1} PRECEDING AND CURRENT ROW),
         wl AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN {SMA_LONG - 1} PRECEDING AND CURRENT ROW)),
sig AS (
  SELECT event_type, d, sma_short, sma_long,
         sma_short > sma_long AS above,
         lag(sma_short > sma_long) OVER (
             PARTITION BY event_type ORDER BY d) AS prev_above
  FROM sma)
SELECT event_type, d, sma_short, sma_long,
       CASE WHEN above THEN 'golden_cross' ELSE 'death_cross' END AS signal
FROM sig WHERE prev_above IS NOT NULL AND above <> prev_above
"""


@query("ts_sma_crossover", oracle=_SMA_ORACLE, category="E")
def ts_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover signals (3-day vs 7-day SMA per daily
    series): emit the days where the short average crosses the long one
    — the classic trend-change detector. Every SMA is a decimal-cast
    windowed sum divided by an exact count, so the crossing comparisons
    evaluate identical doubles on both engines; signals are therefore
    bit-deterministic, with the boundary day itself excluded only when
    the previous day has no defined comparison.

    Scale: one daily rollup (the fact shuffle); both SMA frames and the
    lag share a single (series, day) sort — one window pass."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("v"))
    )
    base = Window.partitionBy("event_type").orderBy("d")
    ws = base.rowsBetween(-(SMA_SHORT - 1), Window.currentRow)
    wl = base.rowsBetween(-(SMA_LONG - 1), Window.currentRow)
    sma = daily.select(
        "event_type",
        "d",
        (F.sum(F.col("v").cast(DEC)).over(ws).cast("double")
         / F.count("*").over(ws).cast("double")).alias("sma_short"),
        (F.sum(F.col("v").cast(DEC)).over(wl).cast("double")
         / F.count("*").over(wl).cast("double")).alias("sma_long"),
    )
    above = F.col("sma_short") > F.col("sma_long")
    sig = sma.select(
        "event_type", "d", "sma_short", "sma_long",
        above.alias("above"),
        F.lag(above).over(base).alias("prev_above"),
    )
    return sig.filter(
        F.col("prev_above").isNotNull()
        & (F.col("above") != F.col("prev_above"))
    ).select(
        "event_type", "d", "sma_short", "sma_long",
        F.when(F.col("above"), F.lit("golden_cross"))
        .otherwise(F.lit("death_cross")).alias("signal"),
    )


# --- time-series gap report --------------------------------------------

GAP_MIN_US = 3_600_000_000  # report gaps longer than 1 hour

_GAP_ORACLE = f"""
WITH seq AS (
  SELECT event_type, ts, event_id,
         lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
             AS next_ts
  FROM events)
SELECT event_type, ts AS gap_start, next_ts AS gap_end,
       epoch_us(next_ts) - epoch_us(ts) AS gap_us
FROM seq
WHERE next_ts IS NOT NULL
  AND epoch_us(next_ts) - epoch_us(ts) > {GAP_MIN_US}
"""


@query("ts_gap_report", oracle=_GAP_ORACLE, category="E")
def ts_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-gap report per series: the actual silent intervals longer
    than 1 h (start, end, exact integer-microsecond duration) — the
    incident-shaped complement of ``events_interarrival_stats``
    (distribution) and ``ts_calendar_spine_fill`` (repair). A feed
    monitor pages on these rows.

    Scale: one window pass over (series, time, id) — the total order
    makes the lead deterministic under timestamp ties; integer epoch
    microseconds keep durations bit-identical."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "event_type", "ts", F.lead("ts").over(w).alias("next_ts")
    )
    gap = F.unix_micros("next_ts") - F.unix_micros("ts")
    return seq.filter(
        F.col("next_ts").isNotNull() & (gap > GAP_MIN_US)
    ).select(
        "event_type",
        F.col("ts").alias("gap_start"),
        F.col("next_ts").alias("gap_end"),
        gap.cast("bigint").alias("gap_us"),
    )


# --- UCB1 arm allocation -----------------------------------------------

_UCB_ORACLE = """
WITH arms AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS mean_value
  FROM events GROUP BY event_type),
wt AS (SELECT event_type, n, mean_value,
             CAST(SUM(n) OVER () AS BIGINT) AS big_n FROM arms)
SELECT event_type, n, mean_value,
       mean_value + SQRT(2 * ROUND(LN(CAST(big_n AS DOUBLE)), 6)
                         / CAST(n AS DOUBLE)) AS ucb_score
FROM wt
"""


@query("events_ucb_allocation", oracle=_UCB_ORACLE, category="E")
def events_ucb_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 (upper confidence bound) scores per experiment arm:
    mean reward + sqrt(2·ln(N)/n) — the deterministic
    explore/exploit allocator a decisioning layer runs on aggregate
    stats (the bandit counterpart of the z-test's fixed-horizon view).
    Means are decimal-exact; the single ln(N) is 6dp-rounded (the
    package's trig/log discipline) so the bonus arithmetic is mirrored
    on identical doubles.

    Scale: one partial+final aggregation for the arms; N is a window
    sum over the arms-sized result — the fact is scanned exactly once
    (a separate global count would scan it twice)."""
    arms = t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*"))
        .alias("mean_value"),
    )
    w_all = Window.partitionBy()
    wt = arms.withColumn(
        "big_n", F.sum("n").over(w_all).cast("bigint")
    )
    return wt.select(
        "event_type", "n", "mean_value",
        (
            F.col("mean_value")
            + F.sqrt(
                2 * F.round(F.log(F.col("big_n").cast("double")), 6)
                / F.col("n").cast("double")
            )
        ).alias("ucb_score"),
    )


# --- second-order differences ------------------------------------------

_DIFF2_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2),
d1 AS (
  SELECT event_type, d, v,
         CAST(CAST(v AS DECIMAL(18,6))
              - CAST(lag(v) OVER w AS DECIMAL(18,6)) AS DOUBLE)
             AS velocity
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d))
SELECT event_type, d, v, velocity,
       CAST(CAST(velocity AS DECIMAL(18,6))
            - CAST(lag(velocity) OVER w2 AS DECIMAL(18,6)) AS DOUBLE)
           AS acceleration
FROM d1 WINDOW w2 AS (PARTITION BY event_type ORDER BY d)
"""


@query("ts_diff_second_order", oracle=_DIFF2_ORACLE, category="E")
def ts_diff_second_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and second discrete differences per daily series — the
    velocity/acceleration view trend monitors alert on (is growth
    slowing?), complementing ``ts_ewma``/``ts_holt_linear``'s smoothed
    levels. Differences are taken in decimal (the daily values are
    6dp-exact decimals rendered as doubles), so both derivative columns
    are bit-identical; boundary rows carry NULL.

    Scale: one daily rollup, then both lags share one (series, day)
    sort — a single window pass."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    d1 = daily.withColumn(
        "velocity",
        (F.col("v").cast(DEC) - F.lag("v").over(w).cast(DEC))
        .cast("double"),
    )
    return d1.withColumn(
        "acceleration",
        (F.col("velocity").cast(DEC)
         - F.lag("velocity").over(w).cast(DEC)).cast("double"),
    )


# --- contingency expected counts + residuals ----------------------------

_RESID_ORACLE = """
WITH obs AS (
  SELECT event_type, (value > 50) AS hi,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2),
m AS (
  SELECT event_type, hi, o,
         CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
         CAST(SUM(o) OVER (PARTITION BY hi) AS BIGINT) AS col_n,
         CAST(SUM(o) OVER () AS BIGINT) AS n
  FROM obs)
SELECT event_type, hi, o,
       CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE)
           AS expected,
       (CAST(o AS DOUBLE)
        - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
          / CAST(n AS DOUBLE))
       / SQRT(CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
              / CAST(n AS DOUBLE)) AS pearson_residual
FROM m
"""


@query("events_contingency_residuals", oracle=_RESID_ORACLE, category="E")
def events_contingency_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell contingency diagnostics: observed count, independence-
    expected count, and the Pearson residual (obs − exp)/√exp — WHERE
    the association lives, the cell-level drill-down behind
    ``events_chi_square_independence``'s single statistic.

    Observed/marginal counts are integers recovered from one grouped
    pass via three window sums (no re-scan per margin); expected and
    residual are mirrored IEEE expressions. O(scan) + |cells| windows."""
    obs = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", (F.col("value") > 50).alias("hi"))
        .agg(F.count("*").alias("o"))
    )
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("hi")
    w_all = Window.partitionBy()
    m = obs.select(
        "event_type", "hi", "o",
        F.sum("o").over(w_row).cast("bigint").alias("row_n"),
        F.sum("o").over(w_col).cast("bigint").alias("col_n"),
        F.sum("o").over(w_all).cast("bigint").alias("n"),
    )
    exp = (
        F.col("row_n").cast("double") * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    return m.select(
        "event_type", "hi", "o",
        exp.alias("expected"),
        ((F.col("o").cast("double") - exp) / F.sqrt(exp))
        .alias("pearson_residual"),
    )


# --- per-user behavioral entropy ---------------------------------------

_UENTROPY_ORACLE = """
WITH mix AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT user_id, event_type, c,
         CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM mix),
terms AS (
  SELECT user_id, n,
         ROUND((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS term
  FROM tot)
SELECT user_id, n,
       CAST(-SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS entropy
FROM terms GROUP BY user_id, n
"""


@query("events_user_entropy", oracle=_UENTROPY_ORACLE, category="E")
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Shannon entropy of their
    event-type mix — low entropy flags single-action (bot-like) users,
    complementing ``events_bot_score``'s rule stack. Each −p·ln p term
    is 6dp-rounded then decimal-summed (the ``agg_geometric_mean_log``
    discipline), so the per-user entropy is order-free exact.

    Scale: one (user, type) rollup (the fact shuffle), per-user totals
    via a window on the rollup, one more small aggregation."""
    mix = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
    )
    w_u = Window.partitionBy("user_id")
    tot = mix.withColumn("n", F.sum("c").over(w_u).cast("bigint"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    terms = tot.select(
        "user_id", "n", F.round(p * F.log(p), 6).alias("term")
    )
    return terms.groupBy("user_id", "n").agg(
        (-F.sum(F.col("term").cast(DEC))).cast("double").alias("entropy")
    )


# --- day-of-week × hour activity heatmap -------------------------------

_HEATMAP_ORACLE = """
SELECT CAST(((epoch_us(ts) // 86400000000 + 3) % 7 + 7) % 7 AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


@query("events_heatmap_dow_hour", oracle=_HEATMAP_ORACLE, category="E")
def events_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap (counts + decimal
    value mass per cell) — the capacity-planning / on-call staffing view.
    Day-of-week derives from integer epoch-day arithmetic (Monday = 0):
    the engines' native dayofweek() disagree on the week origin
    (DuckDB Sunday=0, Spark Sunday=1), so the portable formula is part
    of the operator. Epoch days FLOOR (not truncate) and the week index
    is a positive mod, so pre-1970 timestamps still land in 0..6 and the
    two engines agree for any timestamp sign (ADVICE r05).

    One partial+final aggregation keyed by the 7×24 cell grid —
    O(scan), constant-size output."""
    # Pure BIGINT arithmetic — epoch micros (~1.7e18) exceed double's
    # 2^53 mantissa, so a float division could misbucket timestamps
    # within ~128 µs of a day boundary. pmod folds into the week first
    # (remainder < 7 days), then integer `div` floors exactly; the outer
    # pmod keeps pre-1970 rows in 0..6.
    dow = F.expr(
        "pmod(pmod(unix_micros(ts), 604800000000) div 86400000000 + 3, 7)"
    )
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            dow.cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double")
            .alias("total_value"),
        )
    )


# --- A/B test power analysis -------------------------------------------

MDE_ABS = 0.05  # minimum detectable effect, absolute
Z_ALPHA = 1.959964  # two-sided 5%
Z_BETA = 0.841621  # 80% power

_POWER_ORACLE = f"""
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS x
  FROM events WHERE event_type = 'click'),
p AS (SELECT n, x, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p_base FROM s)
SELECT n, x, p_base,
       CAST(CEIL(2 * (({Z_ALPHA} + {Z_BETA}) * ({Z_ALPHA} + {Z_BETA}))
                 * (p_base * (1 - p_base)) / ({MDE_ABS} * {MDE_ABS}))
            AS BIGINT) AS n_per_arm,
       CAST(CEIL(2 * (({Z_ALPHA} + {Z_BETA}) * ({Z_ALPHA} + {Z_BETA}))
                 * (p_base * (1 - p_base)) / ({MDE_ABS} * {MDE_ABS}))
            AS BIGINT) * 2 AS n_total
FROM p
"""


@query("events_power_analysis", oracle=_POWER_ORACLE, category="E")
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing from observed data: required samples per arm to
    detect a 5-point absolute lift on the observed click conversion rate
    at α = 5% (two-sided) / 80% power — n = 2(z_α+z_β)²·p(1−p)/MDE².
    The planning step BEFORE ``events_proportion_ztest`` runs; both keys
    share the conversion definition.

    The base rate divides exact integers; the sizing formula is one
    mirrored scalar expression with literal z constants; CEIL lands on
    exact integers. One filtered-count pass."""
    s = t(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    ).agg(
        F.count("*").alias("n"),
        F.count_if(F.col("value") > 50).alias("x"),
    )
    p = s.select(
        "n", "x",
        (F.col("x").cast("double") / F.col("n").cast("double"))
        .alias("p_base"),
    )
    zsum = F.lit(Z_ALPHA) + F.lit(Z_BETA)
    n_arm = F.ceil(
        2 * (zsum * zsum)
        * (F.col("p_base") * (1 - F.col("p_base")))
        / F.lit(MDE_ABS * MDE_ABS)
    ).cast("bigint")
    return p.select(
        "n", "x", "p_base",
        n_arm.alias("n_per_arm"),
        (n_arm * 2).alias("n_total"),
    )


# --- sample-ratio-mismatch (SRM) trustworthiness check (round 6) --------

SRM_Z_CRIT = 3.89  # two-sided p < 1e-4, the industry SRM alarm threshold

_SRM_ORACLE = f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
arms AS (
  SELECT CAST({MD5_BIGINT("CAST(user_id AS VARCHAR)")} % 2 AS INT) AS arm
  FROM u),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_control,
         CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_treatment
  FROM arms)
SELECT n_users, n_control, n_treatment,
       (CAST(n_control AS DOUBLE) - CAST(n_users AS DOUBLE) * 0.5)
         / SQRT(CAST(n_users AS DOUBLE) * 0.25) AS z_srm,
       ABS((CAST(n_control AS DOUBLE) - CAST(n_users AS DOUBLE) * 0.5)
           / SQRT(CAST(n_users AS DOUBLE) * 0.25)) > {SRM_Z_CRIT}
         AS srm_detected
FROM s
"""


@query("events_srm_check", oracle=_SRM_ORACLE, category="E")
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch — the experimentation trustworthiness gate
    that runs BEFORE any lift test is believed (Kohavi et al.: an SRM
    invalidates the whole experiment): users are hash-assigned to two
    arms (60-bit md5 % 2, the deterministic bucketing a real platform
    uses), observed arm counts are tested against the designed 50/50
    split with a one-sample z statistic, and |z| > 3.89 (p < 1e-4 —
    deliberately stricter than 0.05, an SRM alarm must not cry wolf)
    raises the flag. Companion gate to ``events_proportion_ztest`` /
    ``events_ab_welch``, which test OUTCOMES; this tests the ASSIGNMENT.

    Scale: one distinct-users aggregation (partial+final on user_id),
    then two filtered counts folded into a single 1-row reduce — O(scan)
    with one bounded shuffle at any corpus size. The z arithmetic is
    mirrored IEEE scalar math on exact integer counts."""
    u = t(spark, sf_dir, "events").select("user_id").distinct()
    arm = (md5_bigint(F.col("user_id").cast("string")) % 2).cast("int")
    s = u.select(arm.alias("arm")).agg(
        F.count("*").alias("n_users"),
        F.count_if(F.col("arm") == 0).alias("n_control"),
        F.count_if(F.col("arm") == 1).alias("n_treatment"),
    )
    nd = F.col("n_users").cast("double")
    z = (F.col("n_control").cast("double") - nd * F.lit(0.5)) / F.sqrt(
        nd * F.lit(0.25)
    )
    return s.select(
        "n_users",
        "n_control",
        "n_treatment",
        z.alias("z_srm"),
        (F.abs(z) > SRM_Z_CRIT).alias("srm_detected"),
    )


# --- CUPED variance reduction (round 6) ----------------------------------

_CUPED_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(CAST(SUM(CASE WHEN event_id % 2 = 0
                            THEN CAST(value AS DECIMAL(18,6))
                            ELSE CAST(0 AS DECIMAL(18,6)) END)
              AS DECIMAL(18,6)) AS DOUBLE) AS x,
         CAST(CAST(SUM(CASE WHEN event_id % 2 = 1
                            THEN CAST(value AS DECIMAL(18,6))
                            ELSE CAST(0 AS DECIMAL(18,6)) END)
              AS DECIMAL(18,6)) AS DOUBLE) AS y,
         CAST({MD5_BIGINT("CAST(user_id AS VARCHAR)")} % 2 AS INT) AS arm
  FROM events GROUP BY user_id),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx2,
         CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sy2
  FROM per_user),
arms AS (
  SELECT arm,
         CAST(COUNT(*) AS BIGINT) AS n_arm,
         CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx_arm,
         CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sy_arm
  FROM per_user GROUP BY arm),
theta AS (
  SELECT n, sx, sy,
         (CAST(n AS DOUBLE) * sxy - sx * sy)
           / (CAST(n AS DOUBLE) * sx2 - sx * sx) AS theta,
         ((CAST(n AS DOUBLE) * sxy - sx * sy)
           * (CAST(n AS DOUBLE) * sxy - sx * sy))
           / ((CAST(n AS DOUBLE) * sx2 - sx * sx)
              * (CAST(n AS DOUBLE) * sy2 - sy * sy)) AS var_reduction
  FROM s)
SELECT a.arm, a.n_arm,
       a.sy_arm / CAST(a.n_arm AS DOUBLE) AS mean_raw,
       a.sy_arm / CAST(a.n_arm AS DOUBLE)
         - t.theta * (a.sx_arm / CAST(a.n_arm AS DOUBLE)
                      - t.sx / CAST(t.n AS DOUBLE)) AS mean_cuped,
       t.theta AS theta,
       t.var_reduction AS var_reduction
FROM arms a CROSS JOIN theta t
"""


@query("events_ab_cuped", oracle=_CUPED_ORACLE, category="E")
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013 — the adjustment every
    mature experimentation platform applies before reading a lift): per
    user, a held-out covariate slice x (even event ids) and the metric
    slice y (odd event ids); θ = cov(x,y)/var(x) pooled over users; each
    arm's metric mean is reported raw AND θ-adjusted
    (mean_y − θ·(mean_x − mean_x_overall)), plus the ρ² variance-
    reduction share the covariate buys. Arms are the same hash
    assignment as ``events_srm_check`` — the SRM gate validates exactly
    the split this key consumes.

    Exactness: per-user slices are decimal sums; the user-level moment
    terms (xy, x², y²) are 6dp-rounded BEFORE the decimal re-sum (the
    geo-trig discipline, here because a product of doubles is not
    order-free), so all six sufficient statistics are order-independent
    and the θ/ρ² scalar formulas are mirrored IEEE text.

    Scale: one user-grain aggregation (partial+final on user_id), then
    two constant-width reduces (overall + per arm) — O(scan) with one
    bounded shuffle, unchanged at 100 TB of events."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_id") % 2 == 0, F.col("value").cast(DEC)
            ).otherwise(F.lit(0).cast(DEC))
        )
        .cast(DEC)
        .cast("double")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_id") % 2 == 1, F.col("value").cast(DEC)
            ).otherwise(F.lit(0).cast(DEC))
        )
        .cast(DEC)
        .cast("double")
        .alias("y"),
    ).withColumn(
        "arm",
        (md5_bigint(F.col("user_id").cast("string")) % 2).cast("int"),
    )
    per_user = per_user.cache()  # feeds the overall AND per-arm reduces

    def dterm(c):
        return F.sum(F.round(c, 6).cast(DEC)).cast("double")

    s = per_user.agg(
        F.count("*").alias("n"),
        dterm(F.col("x")).alias("sx"),
        dterm(F.col("y")).alias("sy"),
        dterm(F.col("x") * F.col("y")).alias("sxy"),
        dterm(F.col("x") * F.col("x")).alias("sx2"),
        dterm(F.col("y") * F.col("y")).alias("sy2"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n_arm"),
        dterm(F.col("x")).alias("sx_arm"),
        dterm(F.col("y")).alias("sy_arm"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    var_n = nd * F.col("sx2") - F.col("sx") * F.col("sx")
    vary_n = nd * F.col("sy2") - F.col("sy") * F.col("sy")
    theta = s.select(
        "n",
        "sx",
        "sy",
        (cov_n / var_n).alias("theta"),
        ((cov_n * cov_n) / (var_n * vary_n)).alias("var_reduction"),
    )
    mean_raw = F.col("sy_arm") / F.col("n_arm").cast("double")
    mean_cuped = mean_raw - F.col("theta") * (
        F.col("sx_arm") / F.col("n_arm").cast("double")
        - F.col("sx") / F.col("n").cast("double")
    )
    return arms.crossJoin(F.broadcast(theta)).select(
        "arm",
        "n_arm",
        mean_raw.alias("mean_raw"),
        mean_cuped.alias("mean_cuped"),
        "theta",
        "var_reduction",
    )


# --- difference-in-differences (round 6) ----------------------------------

_DID_ORACLE = f"""
WITH cells AS (
  SELECT CAST({MD5_BIGINT("CAST(user_id AS VARCHAR)")} % 2 AS INT) AS treated,
         CAST(((epoch_us(ts) // 86400000000) % 2 + 2) % 2 AS INT) AS post,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
  FROM events GROUP BY 1, 2),
m AS (
  SELECT treated, post, n, sv,
         sv / CAST(n AS DOUBLE) AS cell_mean
  FROM cells),
wide AS (
  SELECT
    MAX(CASE WHEN treated = 1 AND post = 1 THEN cell_mean END) AS t1,
    MAX(CASE WHEN treated = 1 AND post = 0 THEN cell_mean END) AS t0,
    MAX(CASE WHEN treated = 0 AND post = 1 THEN cell_mean END) AS c1,
    MAX(CASE WHEN treated = 0 AND post = 0 THEN cell_mean END) AS c0
  FROM m)
SELECT treated, post, n, cell_mean,
       (SELECT (t1 - t0) - (c1 - c0) FROM wide) AS did_effect
FROM m
"""


@query("events_diff_in_diff", oracle=_DID_ORACLE, category="E")
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the quasi-experimental estimator for
    when randomization isn't available (Card & Krueger): group = the
    same hash assignment as ``events_srm_check``, period = epoch-day
    parity (a deterministic stand-in for pre/post cutover), effect =
    (treated_post − treated_pre) − (control_post − control_pre). All
    four cell means ride decimal sums over exact counts; the DiD scalar
    is mirrored IEEE text replicated onto each cell row (constant column
    — the comparator is order-insensitive, so a 4-row grid plus the
    effect is the natural report shape).

    Scale: one partial+final aggregation on the 2×2 cell grid — O(scan),
    constant output, no wide shuffle. Epoch days use the same exact
    BIGINT floor arithmetic as ``events_heatmap_dow_hour``."""
    e = t(spark, sf_dir, "events")
    treated = (md5_bigint(F.col("user_id").cast("string")) % 2).cast("int")
    post = F.expr(
        "cast(pmod(pmod(unix_micros(ts), 172800000000) div 86400000000, 2)"
        " as int)"
    )
    cells = (
        e.groupBy(treated.alias("treated"), post.alias("post"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sv"),
        )
        .select(
            "treated",
            "post",
            "n",
            "sv",
            (F.col("sv") / F.col("n").cast("double")).alias("cell_mean"),
        )
    )
    cells = cells.cache()  # 4 rows; feeds the wide pivot AND the output

    def pick(tr, po):
        return F.max(
            F.when(
                (F.col("treated") == tr) & (F.col("post") == po),
                F.col("cell_mean"),
            )
        )

    wide = cells.agg(
        (
            (pick(1, 1) - pick(1, 0)) - (pick(0, 1) - pick(0, 0))
        ).alias("did_effect")
    )
    return cells.crossJoin(F.broadcast(wide)).select(
        "treated", "post", "n", "cell_mean", "did_effect"
    )


# --- Bollinger bands (round 6) --------------------------------------------

BOLL_WIN = 7  # rolling days
BOLL_K = 2.0  # band half-width in standard deviations

_BOLL_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
w AS (
  SELECT event_type, day, x,
         CAST(COUNT(*) OVER win AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(18,6))) OVER win AS DOUBLE)
           AS s,
         CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(18,6))) OVER win
              AS DOUBLE) AS s2
  FROM daily
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN {BOLL_WIN - 1} PRECEDING AND CURRENT ROW)),
b AS (
  SELECT event_type, day, x, n,
         s / CAST(n AS DOUBLE) AS mid,
         CASE WHEN n > 1 AND CAST(n AS DOUBLE) * s2 - s * s > 0
              THEN SQRT((CAST(n AS DOUBLE) * s2 - s * s)
                        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
              ELSE 0.0 END AS sd
  FROM w)
SELECT event_type, day, x, n, mid,
       mid + {BOLL_K} * sd AS upper_band,
       mid - {BOLL_K} * sd AS lower_band,
       x > mid + {BOLL_K} * sd AS breach_up,
       x < mid - {BOLL_K} * sd AS breach_down
FROM b
"""


@query("ts_bollinger_bands", oracle=_BOLL_ORACLE, category="E")
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the daily mean value per event type: 7-day
    rolling mean ± 2 rolling standard deviations, with band-breach
    flags — the volatility envelope behind alerting rules and the
    mean-reversion cousin of ``ts_sma_crossover``. Daily means ride
    decimal sums over exact counts; the rolling moment terms (x, x²)
    are 6dp-rounded BEFORE their decimal window sums (the CUPED
    discipline — a squared double is not order-free), and the σ formula
    guards non-positive variance to 0 instead of a sqrt NaN.

    Scale: one fact-sized rollup to days×types, then ordered windows
    over the reduced series sharing one (type, day) sort — the same
    envelope as every ts_* key; 100 TB of events still reduces to one
    rollup pass."""
    e = t(spark, sf_dir, "events")
    day = F.expr(
        "cast((unix_micros(ts) - pmod(unix_micros(ts), 86400000000))"
        " div 86400000000 as bigint)"
    )
    daily = e.groupBy(
        "event_type", day.alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast(DEC)).cast("double")
            / F.count("*")
        ).alias("x")
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(BOLL_WIN - 1), 0)
    )
    w = daily.select(
        "event_type",
        "day",
        "x",
        F.count("*").over(win).alias("n"),
        F.sum(F.round(F.col("x"), 6).cast(DEC)).over(win)
        .cast("double")
        .alias("s"),
        F.sum(F.round(F.col("x") * F.col("x"), 6).cast(DEC)).over(win)
        .cast("double")
        .alias("s2"),
    )
    nd = F.col("n").cast("double")
    var_num = nd * F.col("s2") - F.col("s") * F.col("s")
    sd = F.when(
        (F.col("n") > 1) & (var_num > 0),
        F.sqrt(var_num / (nd * (F.col("n") - 1).cast("double"))),
    ).otherwise(F.lit(0.0))
    b = w.select(
        "event_type",
        "day",
        "x",
        "n",
        (F.col("s") / nd).alias("mid"),
        sd.alias("sd"),
    )
    upper = F.col("mid") + F.lit(BOLL_K) * F.col("sd")
    lower = F.col("mid") - F.lit(BOLL_K) * F.col("sd")
    return b.select(
        "event_type",
        "day",
        "x",
        "n",
        "mid",
        upper.alias("upper_band"),
        lower.alias("lower_band"),
        (F.col("x") > upper).alias("breach_up"),
        (F.col("x") < lower).alias("breach_down"),
    )


# --- deterministic Poisson bootstrap CI (round 7) -------------------------

BOOT_B = 32  # bootstrap replicates

# Poisson(1) inverse-CDF thresholds, written as literals so BOTH engines
# compare the uniform draw against the exact same doubles (exp() is
# 1-ulp-class cross-engine; a literal is a literal). Draws beyond P(<=6)
# get weight 7 — P(X>=7) ~ 8e-5, a bias far below bootstrap noise.
_POIS = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507416,
)

_U52 = 4503599627370496.0  # 2^52: 13 hex digits -> exact uniform in [0,1)


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {p} THEN {k}" for k, p in enumerate(_POIS)
    )
    return f"CASE {branches} ELSE 7 END"


_BOOT_ORACLE = f"""
WITH reps AS (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b),
draws AS (
  SELECT r.b, o.o_totalprice,
         CAST('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)
                 || '_' || CAST(r.b AS VARCHAR)), 1, 13) AS BIGINT)
           / {_U52} AS u
  FROM orders o CROSS JOIN reps r),
weighted AS (
  SELECT b, o_totalprice, {_pois_case_sql('u')} AS w FROM draws),
means AS (
  SELECT b,
         CAST(SUM(w * CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(SUM(w) AS DOUBLE) AS m
  FROM weighted GROUP BY b),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM means)
SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
       CAST({BOOT_B} AS BIGINT) AS n_replicates,
       CAST((SELECT SUM(CAST(round(m, 6) AS DECIMAL(18,6))) FROM means)
            AS DOUBLE) / {BOOT_B} AS boot_mean,
       (SELECT m FROM ranked WHERE rk = 2) AS ci_lower,
       (SELECT m FROM ranked WHERE rk = {BOOT_B - 1}) AS ci_upper
"""


@query("agg_bootstrap_ci_poisson", oracle=_BOOT_ORACLE, category="E")
def agg_bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for a mean via the POISSON bootstrap
    — the resampling scheme that actually works on distributed data
    (classic bootstrap needs sampling WITH replacement from the full
    dataset, impossible row-locally; giving every row an independent
    Poisson(1) weight per replicate is the standard streaming/MapReduce
    substitute, cf. Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams"). Weights come from a DETERMINISTIC md5 draw
    per (row, replicate) — rerun-stable, engine-identical, no RNG state
    — mapped through literal Poisson inverse-CDF thresholds. {BOOT_B}
    replicate means of orders.o_totalprice, reported with the
    rank-based 2nd/31st order statistics as the ~94% CI (exact ranks,
    not interpolated percentiles, so both engines pick identical
    doubles).

    Cross-engine exactness: the 52-bit uniform is an exact power-of-two
    division; weighted sums are integer-weight × DECIMAL (order-free);
    each replicate mean is one double division; the CI bounds are
    selected (not computed) doubles; the replicate-mean average rounds
    6dp before its decimal sum.

    Scale: one explode to {BOOT_B}× rows feeding a map-side-combined
    groupBy(b) — B bounded, so cost is B corpus scans' worth of rows in
    ONE shuffle of 2·{BOOT_B} partial aggregates per task; the order
    statistics sort {BOOT_B} rows. This is how production experiment
    platforms attach CIs to any metric without a second pass."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    reps = F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("_"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(_U52)
    )
    w = F.lit(7)
    for k in range(len(_POIS) - 1, -1, -1):
        w = F.when(F.col("u") < _POIS[k], F.lit(k)).otherwise(w)
    means = (
        o.select("o_orderkey", "o_totalprice", reps)
        .withColumn("u", u)
        .withColumn("w", w)
        .groupBy("b")
        .agg(
            (
                F.sum(
                    F.col("w") * F.col("o_totalprice").cast(DEC)
                ).cast("double")
                / F.sum("w").cast("double")
            ).alias("m")
        )
    )
    rk = Window.orderBy("m", "b")
    ranked = means.withColumn("rk", F.row_number().over(rk))
    n_rows = o.count()
    agg = means.agg(
        (
            F.sum(F.round(F.col("m"), 6).cast(DEC)).cast("double") / BOOT_B
        ).alias("boot_mean")
    )
    lo = ranked.filter(F.col("rk") == 2).select(F.col("m").alias("ci_lower"))
    hi = ranked.filter(F.col("rk") == BOOT_B - 1).select(
        F.col("m").alias("ci_upper")
    )
    return (
        agg.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(n_rows).cast("long").alias("n_rows"),
            F.lit(BOOT_B).cast("long").alias("n_replicates"),
            "boot_mean",
            "ci_lower",
            "ci_upper",
        )
    )


# --- sequential probability ratio test (round 7) --------------------------

# Wald SPRT for Bernoulli p0=0.4 vs p1=0.6, alpha=beta=0.05. Log terms
# and boundaries as 6dp literals (ln is 1-ulp-class cross-engine; a
# literal is a literal): ln(p1/p0)=ln(1.5), ln((1-p1)/(1-p0))=-ln(1.5),
# boundaries +-ln((1-0.05)/0.05)=+-ln(19).
SPRT_L1 = 0.405465
SPRT_L0 = -0.405465
SPRT_UP = 2.944439
SPRT_LO = -2.944439

_SPRT_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS n_purch,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id),
obs AS (
  SELECT user_id,
         CAST(n_purch AS DOUBLE) / n_events > 0.2 AS converted
  FROM per_user),
llr AS (
  SELECT user_id, converted,
         CAST(row_number() OVER (ORDER BY user_id) AS BIGINT) AS step,
         CAST(SUM(CASE WHEN converted
                       THEN CAST({SPRT_L1} AS DECIMAL(18,6))
                       ELSE CAST({SPRT_L0} AS DECIMAL(18,6)) END)
              OVER (ORDER BY user_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS llr
  FROM obs)
SELECT user_id, step, converted, llr,
       CASE WHEN llr >= {SPRT_UP} THEN 'accept_h1'
            WHEN llr <= {SPRT_LO} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM llr
"""


@query("events_sprt_sequential", oracle=_SPRT_ORACLE, category="E")
def events_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test — the always-valid
    monitoring discipline modern experiment platforms run instead of
    fixed-horizon tests (peeking at a z-test inflates false positives;
    the SPRT's log-likelihood-ratio walk with ln(19) boundaries holds
    alpha=beta=0.05 at EVERY look). Per user (ordered by id — the
    deterministic stand-in for arrival order): a Bernoulli observation
    (purchase share > 0.2), the running LLR for p0=0.4 vs p1=0.6, and
    the accept/continue decision at that step.

    Cross-engine exactness: per-step terms are one of two 6dp DECIMAL
    literals, so the running sum is order-free-exact; boundaries are
    literal doubles; one double cast at the end.

    Scale: the per-user reduction is map-side combined; the sequential
    walk is a window cumsum over the USER frame (n users, not n
    events). A truly-global ordered walk is inherently sequential — at
    billion-user scale the platform evaluates the LLR at periodic
    checkpoints (GROUP BY time bucket + one running total over buckets),
    which this same plan expresses with a coarser ORDER BY."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "purchase").alias("n_purch"),
        F.count("*").alias("n_events"),
    )
    obs = per_user.select(
        "user_id",
        (
            F.col("n_purch").cast("double") / F.col("n_events") > 0.2
        ).alias("converted"),
    )
    wo = Window.orderBy("user_id")
    term = F.when(
        F.col("converted"), F.lit(SPRT_L1).cast(DEC)
    ).otherwise(F.lit(SPRT_L0).cast(DEC))
    llr = (
        F.sum(term)
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
    )
    out = obs.select(
        "user_id",
        F.row_number().over(wo).cast("long").alias("step"),
        "converted",
        llr.alias("llr"),
    )
    return out.withColumn(
        "decision",
        F.when(F.col("llr") >= SPRT_UP, "accept_h1")
        .when(F.col("llr") <= SPRT_LO, "accept_h0")
        .otherwise("continue"),
    )


# --- dynamic time warping (round 10) -------------------------------------

DTW_L = 24  # hour-of-day profile length per event-type series
_DTW_BIG = 1 << 40  # unreachable-cell sentinel (greater than any path)


def _dtw_oracle() -> str:
    """DTW as a RECURSIVE-CTE wavefront: diagonal m is one list per
    pair (slot x holds D(x-1, m-x+1), NULL when off-grid), each
    iteration derives diagonal k+1 from diagonals k and k-1 carried on
    the same row — the standard way to run a 2-D dynamic program
    through a single-self-reference recursion. Integer costs make the
    DP exact on both engines."""
    L, BIG = DTW_L, _DTW_BIG
    return f"""
WITH RECURSIVE types AS (SELECT DISTINCT event_type FROM events),
spine AS (
  SELECT t.event_type, hs.h
  FROM types t, (SELECT unnest(generate_series(0, {L - 1})) AS h) hs),
cnt AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, hour(ts)),
ser AS MATERIALIZED (
  SELECT s.event_type, list(coalesce(c.c, 0) ORDER BY s.h) AS arr
  FROM spine s
  LEFT JOIN cnt c ON c.event_type = s.event_type AND c.h = s.h
  GROUP BY s.event_type),
pairs AS MATERIALIZED (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.arr AS ca, b.arr AS cb
  FROM ser a JOIN ser b ON a.event_type < b.event_type),
dp AS (
  SELECT type_a, type_b, ca, cb, 0 AS k,
         list_transform(generate_series(1, {L}), x ->
           CASE WHEN x = 1 THEN abs(ca[1] - cb[1]) END) AS diag,
         CAST(NULL AS BIGINT[]) AS dprev
  FROM pairs
  UNION ALL
  SELECT type_a, type_b, ca, cb, k + 1,
         list_transform(generate_series(1, {L}), x ->
           CASE WHEN k + 3 - x BETWEEN 1 AND {L} THEN
             abs(ca[x] - cb[k + 3 - x])
             + least(
                 coalesce(diag[x], {BIG}),
                 coalesce(CASE WHEN x > 1 THEN diag[x - 1] END, {BIG}),
                 coalesce(CASE WHEN x > 1 THEN dprev[x - 1] END, {BIG}))
           END),
         diag
  FROM dp WHERE k < {2 * L - 2}),
lockstep AS (
  SELECT type_a, type_b,
         list_reduce(list_transform(generate_series(1, {L}),
                                    i -> abs(ca[i] - cb[i])),
                     (a, b) -> a + b) AS lockstep_cost
  FROM pairs)
SELECT d.type_a, d.type_b,
       CAST(d.diag[{L}] AS BIGINT) AS dtw_cost,
       CAST(ls.lockstep_cost AS BIGINT) AS lockstep_cost,
       CAST(ls.lockstep_cost - d.diag[{L}] AS BIGINT) AS warp_gain
FROM dp d
JOIN lockstep ls ON ls.type_a = d.type_a AND ls.type_b = d.type_b
WHERE d.k = {2 * L - 2}
"""


@query("ts_dtw_distance", oracle=_dtw_oracle(), category="L")
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC TIME WARPING distance between every pair of event-type
    hour-of-day profiles (Sakoe & Chiba 1978, public method) — the
    alignment-tolerant series similarity that lockstep L1 cannot
    express: a profile shifted by an hour stays near under DTW but far
    under lockstep. Emits both costs per pair (and their gap), so the
    warp gain itself is the signal; DTW ≤ lockstep ALWAYS (the diagonal
    is one admissible warping path) — law-tested.

    This is the package's canonical "built-ins can't express it" lane:
    a 2-D dynamic program is not a DataFrame expression, so the DP runs
    in an Arrow-vectorized pandas UDF over INTEGER costs (bit-exact by
    construction); the oracle runs the identical DP as a recursive-CTE
    diagonal wavefront — full cross-engine hash coverage for a
    non-SQL-expressible operator.

    Scale: the corpus collapses to |types| × {DTW_L} integer counts in
    one map-side-combined aggregation; profile assembly is a spine join
    and an in-group sort; the quadratic DP runs on |types|²/2 pairs ×
    {DTW_L}² cells inside Arrow batches — series-count-bounded, never
    corpus-bounded. For millions of series, pre-cluster pairs (blocked
    DTW) — the pair generation here is the same self-join envelope as
    ``ml_bradley_terry_fixed``'s duel matrix."""
    e = t(spark, sf_dir, "events")
    types = e.select("event_type").distinct()
    spine = types.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(DTW_L - 1))).alias("h"),
    )
    cnt = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("h")
    ).agg(F.count("*").cast("bigint").alias("c"))
    ser = (
        spine.join(cnt, ["event_type", "h"], "left")
        .groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("h", "c"))),
                lambda s: F.coalesce(s["c"], F.lit(0)),
            ).alias("arr")
        )
    )
    pairs = (
        ser.select(F.col("event_type").alias("type_a"), F.col("arr").alias("ca"))
        .join(
            ser.select(
                F.col("event_type").alias("type_b"), F.col("arr").alias("cb")
            ),
            F.col("type_a") < F.col("type_b"),
        )
    )

    @F.pandas_udf("long")
    def _dtw(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ca, cb in zip(a, b):
            x = [int(v) for v in ca]
            y = [int(v) for v in cb]
            n = len(x)
            big = _DTW_BIG
            # border formulation: D[0][0]=0, borders BIG — identical
            # cell values to the oracle's NULL-padded wavefront
            prev = [0] + [big] * n
            for i in range(1, n + 1):
                cur = [big] * (n + 1)
                for j in range(1, n + 1):
                    c = abs(x[i - 1] - y[j - 1])
                    cur[j] = c + min(prev[j], cur[j - 1], prev[j - 1])
                prev = cur
            out.append(prev[n])
        return pd.Series(out)

    lockstep = F.aggregate(
        F.zip_with(
            F.col("ca"), F.col("cb"), lambda p, q: F.abs(p - q)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    # invoke the quadratic-DP UDF once per pair; warp_gain is derived
    # from the materialized columns in a follow-up select
    return pairs.select(
        "type_a",
        "type_b",
        _dtw(F.col("ca"), F.col("cb")).alias("dtw_cost"),
        lockstep.alias("lockstep_cost"),
    ).select(
        "type_a",
        "type_b",
        "dtw_cost",
        "lockstep_cost",
        (F.col("lockstep_cost") - F.col("dtw_cost")).alias("warp_gain"),
    )
