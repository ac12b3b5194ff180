"""Statistical analytics over the event stream — seasonal decomposition
and the A/B two-sample test: the report-layer queries a metrics/warehouse
team runs on top of the hourly rollups that the rest of category E
builds.

Both keys follow the cross-engine exactness discipline (dbsuite_spark
.exact): decimal sums for order-free aggregation, then scalar IEEE
arithmetic mirrored operation-for-operation in the oracle so every double
is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbsuite_spark.exact import BIGCOUNT, DSUM, dsum
from dbsuite_spark.registry import query
from dbsuite_spark.tables import t

_BUCKETS = """
SELECT event_type,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
       {dsum} AS v
FROM events GROUP BY 1, 2
""".format(dsum=DSUM("value"))


@query(
    "ts_seasonal_profile",
    oracle=f"""
WITH b AS ({_BUCKETS}),
prof AS (
  SELECT event_type, CAST(hour(hour_ts) AS INT) AS hod,
         {DSUM('v')} / COUNT(*) AS seasonal
  FROM b GROUP BY 1, 2)
SELECT b.event_type, b.hour_ts, b.v, p.seasonal,
       b.v - p.seasonal AS residual
FROM b JOIN prof p
  ON b.event_type = p.event_type
 AND CAST(hour(b.hour_ts) AS INT) = p.hod
""",
    category="E",
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition of each type's hourly series: the
    hour-of-day profile (mean hourly total per (type, 0..23)) is the
    seasonal component; subtracting it leaves the residual that anomaly
    detection actually monitors (``events_anomaly_zscore`` upstream).

    Scale: the base rollup is the usual single decimal-exact shuffle;
    the profile is a second aggregation over the ALREADY-reduced buckets
    (rows = types × hours, tiny) and rejoins as a broadcast — the corpus
    is touched once, and the join adds no corpus shuffle."""
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    prof = (
        b.groupBy(
            "event_type", F.hour("hour_ts").cast("int").alias("hod")
        )
        .agg((dsum(F.col("v")) / F.count("*")).alias("seasonal"))
    )
    return (
        b.withColumn("hod", F.hour("hour_ts").cast("int"))
        .join(F.broadcast(prof), ["event_type", "hod"])
        .select(
            "event_type",
            "hour_ts",
            "v",
            "seasonal",
            (F.col("v") - F.col("seasonal")).alias("residual"),
        )
    )


AB_GROUP_A = "view"
AB_GROUP_B = "click"


def _moments_sql(et: str) -> str:
    # sum-of-squares deliberately uses DECIMAL(18,6), NOT DSUM_WIDE's
    # (38,12): DuckDB's DECIMAL→DOUBLE cast on the int128-backed wide
    # type is not correctly rounded (observed 1-ulp high on the fixture
    # sums), while the int64-backed (18,6) cast is an exact integer
    # divided by 1e6 — one correctly-rounded IEEE division on both
    # engines. value² has ≤4 decimal digits on the fixtures, so 6
    # fractional digits lose nothing; at larger magnitudes widen the
    # integral digits, not the fraction.
    return f"""
  SELECT {BIGCOUNT()} AS n,
         {DSUM('value')} AS s,
         {DSUM('value * value')} AS ss
  FROM events WHERE event_type = '{et}'"""


@query(
    "events_ab_welch",
    oracle=f"""
WITH a AS ({_moments_sql(AB_GROUP_A)}),
b AS ({_moments_sql(AB_GROUP_B)}),
m AS (
  SELECT a.n AS n1, b.n AS n2,
         a.s / a.n AS m1, b.s / b.n AS m2,
         (a.ss - (a.s * a.s) / a.n) / (a.n - 1) AS v1,
         (b.ss - (b.s * b.s) / b.n) / (b.n - 1) AS v2
  FROM a, b)
SELECT n1, n2, m1 - m2 AS mean_diff,
       (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS t_stat,
       ((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
         / ((v1 / n1) * (v1 / n1) / (n1 - 1)
            + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS welch_df
FROM m
""",
    category="E",
)
def events_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t between the '{AB_GROUP_A}'
    and '{AB_GROUP_B}' value distributions — the A/B readout. Sums and
    sums-of-squares are decimal-exact (order-free partial+final); the
    t statistic and Welch–Satterthwaite df are scalar IEEE expressions
    mirrored term-for-term in the oracle, so both are bit-identical.

    Scale: two filtered single-pass moment aggregations (or one pass
    with conditional aggregates, as here) — no shuffle wider than the
    two-row moment table, at any corpus size."""
    e = t(spark, sf_dir, "events")

    def moments(et: str, suffix: str):
        cond = F.col("event_type") == et
        return [
            F.count(F.when(cond, 1)).alias(f"n{suffix}"),
            F.sum(F.when(cond, F.col("value")).cast("decimal(18,6)"))
            .cast("double")
            .alias(f"s{suffix}"),
            F.sum(
                F.when(cond, F.col("value") * F.col("value")).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias(f"ss{suffix}"),
        ]

    m = e.agg(*moments(AB_GROUP_A, "1"), *moments(AB_GROUP_B, "2"))
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = F.col("s1") / n1
    m2 = F.col("s2") / n2
    v1 = (F.col("ss1") - (F.col("s1") * F.col("s1")) / n1) / (n1 - 1)
    v2 = (F.col("ss2") - (F.col("s2") * F.col("s2")) / n2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    return m.select(
        n1,
        n2,
        (m1 - m2).alias("mean_diff"),
        ((m1 - m2) / F.sqrt(se2)).alias("t_stat"),
        (
            (se2 * se2)
            / (
                (v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)
            )
        ).alias("welch_df"),
    )


N_TILES = 4  # quartile scores


@query(
    "events_rfm_segmentation",
    oracle=f"""
WITH m AS (
  SELECT user_id,
         MAX(ts) AS last_purchase_ts,
         {BIGCOUNT()} AS frequency,
         {DSUM('value')} AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
SELECT user_id, last_purchase_ts, frequency, monetary,
       CAST(ntile({N_TILES}) OVER (
           ORDER BY last_purchase_ts, user_id) AS INT) AS r_score,
       CAST(ntile({N_TILES}) OVER (
           ORDER BY frequency, user_id) AS INT) AS f_score,
       CAST(ntile({N_TILES}) OVER (
           ORDER BY monetary, user_id) AS INT) AS m_score
FROM m
""",
    category="E",
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value workload: per user,
    recency (last purchase time), frequency (purchase count) and monetary
    (decimal-exact purchase total), each scored into quartiles with a
    deterministic (metric, user_id) tie-break.

    Scale: the corpus-sized shuffle is the per-user aggregation; the
    quartile windows run over the already-reduced user table. ntile needs
    a total order, so at billions of users the scale path replaces the
    three windows with approx_percentile boundary lookups (three scalar
    subqueries + row-local bucketing) at the cost of boundary-exactness —
    here the reduced table is small and the exact rank is the right
    default."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    m = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase_ts"),
            F.count("*").alias("frequency"),
            dsum(F.col("value")).alias("monetary"),
        )
    )
    return m.select(
        "user_id",
        "last_purchase_ts",
        "frequency",
        "monetary",
        F.ntile(N_TILES)
        .over(Window.orderBy("last_purchase_ts", "user_id"))
        .cast("int")
        .alias("r_score"),
        F.ntile(N_TILES)
        .over(Window.orderBy("frequency", "user_id"))
        .cast("int")
        .alias("f_score"),
        F.ntile(N_TILES)
        .over(Window.orderBy("monetary", "user_id"))
        .cast("int")
        .alias("m_score"),
    )


@query(
    "events_interarrival_stats",
    oracle=f"""
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
  FROM events)
SELECT event_type,
       {BIGCOUNT('gap_us')} AS n_gaps,
       CAST(MIN(gap_us) AS DOUBLE) / 1000000.0 AS min_gap_s,
       CAST(MAX(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_s,
       CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 1000000.0
           AS mean_gap_s
FROM gaps GROUP BY event_type
""",
    category="E",
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per event type — the ops metric behind
    rate alerting and capacity planning: consecutive-event gaps (exact
    integer microseconds via a lag window with the (ts, event_id)
    deterministic order), reduced to count/min/max/mean seconds. Integer
    gap sums are exact and order-free; the second→double conversions are
    single IEEE divisions mirrored in the oracle.

    Scale: one shuffle on event_type for the window, and the stats
    aggregation reuses that same partitioning — AQE plans no second
    corpus exchange."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        (F.min("gap_us").cast("double") / F.lit(1000000.0)).alias(
            "min_gap_s"
        ),
        (F.max("gap_us").cast("double") / F.lit(1000000.0)).alias(
            "max_gap_s"
        ),
        (
            F.sum("gap_us").cast("double")
            / F.count("gap_us")
            / F.lit(1000000.0)
        ).alias("mean_gap_s"),
    )


@query(
    "win_year_over_year",
    oracle=f"""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
         {DSUM('o_totalprice')} AS revenue
  FROM orders GROUP BY 1)
SELECT month_start, revenue,
       lag(revenue, 12) OVER (ORDER BY month_start) AS prev_year_revenue,
       revenue - lag(revenue, 12) OVER (ORDER BY month_start)
           AS yoy_delta
FROM m
""",
    category="E",
)
def win_year_over_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue — the seasonal-offset lag report
    (lag 12 over the month series) that complements the adjacent-row
    window keys: each month against the same month last year, with the
    first year NULL by construction. Revenue is the decimal-exact sum,
    and the delta is one double subtraction — bit-identical.

    Scale: the corpus-sized work is the monthly rollup (one shuffle);
    the lag-12 window runs over the reduced month series (a few rows per
    year of history, a global window on purpose)."""
    o = t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month_start")
    ).agg(dsum(F.col("o_totalprice")).alias("revenue"))
    w = Window.orderBy("month_start")
    prev = F.lag("revenue", 12).over(w)
    return m.select(
        "month_start",
        "revenue",
        prev.alias("prev_year_revenue"),
        (F.col("revenue") - prev).alias("yoy_delta"),
    )


@query(
    "events_dau_wau_mau",
    oracle="""
WITH b AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         list_distinct(list(user_id)) AS uset
  FROM events GROUP BY 1)
SELECT d,
       CAST(len(uset) AS BIGINT) AS dau,
       CAST(len(list_distinct(flatten(list(uset) OVER (
           ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))))
         AS BIGINT) AS wau,
       CAST(len(list_distinct(flatten(list(uset) OVER (
           ORDER BY d ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))))
         AS BIGINT) AS mau
FROM b
""",
    category="E",
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU — the canonical product-analytics report: per day,
    exact distinct actives for the day, the trailing 7 days, and the
    trailing 30 days, via per-day user sets unioned across window frames.

    Scale: the corpus shuffle is one (day → user set) aggregation; the
    windows run over the reduced day series. Per-day sets are exact here
    (the audit-scale truth); at billions of actives the per-day payload
    becomes an HLL sketch and the frame union becomes sketch merging —
    ``agg_hll_sketch_merge`` is exactly that substrate, trading exactness
    for constant-width state. Both shapes keep one corpus pass."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    b = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.collect_set("user_id").alias("uset"))

    def rolling(days: int):
        w = Window.orderBy("d").rowsBetween(-(days - 1), 0)
        return F.size(
            F.array_distinct(F.flatten(F.collect_list("uset").over(w)))
        ).cast("long")

    return b.select(
        "d",
        F.size("uset").cast("long").alias("dau"),
        rolling(7).alias("wau"),
        rolling(30).alias("mau"),
    )


ATTR_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000  # 7-day attribution window


@query(
    "win_first_touch_attribution",
    oracle=f"""
SELECT p.event_id,
       (SELECT MIN(v.ts) FROM events v
        WHERE v.user_id = p.user_id AND v.event_type = 'view'
          AND v.ts < p.ts
          AND epoch_us(v.ts) >= epoch_us(p.ts) - {ATTR_LOOKBACK_US})
           AS first_view_ts
FROM events p WHERE p.event_type = 'purchase'
""",
    category="E",
)
def win_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase credited to the user's
    EARLIEST view inside the 7-day lookback — the marketing-attribution
    dual of ``join_asof`` (which is last-touch). Spark-first: union the
    two roles and take MIN over a RANGE frame in integer microseconds
    (bounded lookback, strictly-prior via the −1 upper bound) — one
    user_id shuffle, no per-row subquery, no range join.

    Scale: the range frame holds only the lookback's views per user —
    bounded state, same single-window plan family as the as-of keys."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("timestamp").alias("view_ts"),
    )
    merged = views.unionByName(purchases).withColumn(
        "us", F.unix_micros("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-ATTR_LOOKBACK_US, -1)
    )
    return (
        merged.withColumn("first_view_ts", F.min("view_ts").over(w))
        .filter(F.col("event_id").isNotNull())
        .select("event_id", "first_view_ts")
    )


TOP_SHARE_TILES = 10  # top-decile concentration


@query(
    "agg_revenue_concentration",
    oracle=f"""
WITH per_cust AS (
  SELECT o_custkey, {DSUM('o_totalprice')} AS revenue
  FROM orders GROUP BY o_custkey),
tiled AS (
  SELECT revenue,
         ntile({TOP_SHARE_TILES}) OVER (
             ORDER BY revenue DESC, o_custkey) AS tile
  FROM per_cust)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue,
       CAST(SUM(CASE WHEN tile = 1
                     THEN CAST(revenue AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         / CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE)
           AS top_decile_share
FROM tiled
""",
    category="E",
)
def agg_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the share of total revenue contributed by
    the top decile of customers (deterministic (revenue DESC, custkey)
    tiling) — the 80/20 health metric every revenue dashboard carries.
    All mass flows through decimal sums; the share is one double
    division.

    Scale: per-customer rollup is the corpus shuffle; the decile window
    and the final scalar run on the reduced customer table (ntile's
    global order is over customers, with the approx-boundary alternative
    of ``events_rfm_segmentation`` at extreme cardinality)."""
    o = t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    per_cust = o.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice")).alias("revenue")
    )
    tiled = per_cust.withColumn(
        "tile",
        F.ntile(TOP_SHARE_TILES).over(
            Window.orderBy(F.col("revenue").desc(), F.col("o_custkey"))
        ),
    )
    dec = F.col("revenue").cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    return tiled.agg(
        F.count("*").alias("n_customers"),
        F.sum(dec).cast("double").alias("total_revenue"),
        (
            F.sum(F.when(F.col("tile") == 1, dec).otherwise(zero)).cast(
                "double"
            )
            / F.sum(dec).cast("double")
        ).alias("top_decile_share"),
    )


SEASONAL_SIGMA = 3.0


@query(
    "ts_seasonal_anomaly",
    oracle=f"""
WITH b AS ({_BUCKETS}),
g AS (
  SELECT event_type, CAST(hour(hour_ts) AS INT) AS hod,
         {DSUM('v')} / COUNT(*) AS mu,
         sqrt({{dw}} / COUNT(*)
              - ({DSUM('v')} / COUNT(*)) * ({DSUM('v')} / COUNT(*)))
           AS sigma
  FROM b GROUP BY 1, 2)
SELECT b.event_type, b.hour_ts, b.v,
       round((b.v - g.mu) / g.sigma, 6) AS seasonal_z
FROM b JOIN g ON b.event_type = g.event_type
           AND CAST(hour(b.hour_ts) AS INT) = g.hod
WHERE abs(b.v - g.mu) > {SEASONAL_SIGMA} * g.sigma
""".format(dw="CAST(SUM(CAST((v * v) AS DECIMAL(38,12))) AS DOUBLE)"),
    category="E",
)
def ts_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly flags: hours whose total deviates more
    than 3σ from the mean OF THEIR OWN (type, hour-of-day) group — the
    deseasonalized upgrade of ``events_anomaly_zscore``, which flags
    against the global per-type mean and therefore fires on every rush
    hour. Group mean IS the seasonal component (``ts_seasonal_profile``),
    so this composes the two verified stages without materializing the
    residual series.

    Moments follow the zscore key's precedent: Σv exact in (18,6), Σv²
    through the wide decimal with the final z rounded to 6 dp (the
    exact.py wide-cast caveat is absorbed by the rounding; the 3σ
    boundary flip risk is the same knife-edge already accepted there).

    Scale: one corpus shuffle for the buckets; the (type, hod) stats are
    a tiny second aggregation broadcast back."""
    e = t(spark, sf_dir, "events")
    from dbsuite_spark.exact import dsum_wide

    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    mu = dsum(F.col("v")) / F.count("*")
    g = b.groupBy(
        "event_type", F.hour("hour_ts").cast("int").alias("hod")
    ).agg(
        mu.alias("mu"),
        F.sqrt(
            dsum_wide(F.col("v") * F.col("v")) / F.count("*") - mu * mu
        ).alias("sigma"),
    )
    return (
        b.withColumn("hod", F.hour("hour_ts").cast("int"))
        .join(F.broadcast(g), ["event_type", "hod"])
        .filter(
            F.abs(F.col("v") - F.col("mu"))
            > SEASONAL_SIGMA * F.col("sigma")
        )
        .select(
            "event_type",
            "hour_ts",
            "v",
            F.round(
                (F.col("v") - F.col("mu")) / F.col("sigma"), 6
            ).alias("seasonal_z"),
        )
    )


@query(
    "ts_changepoint_cusum",
    oracle="""
WITH b AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             AS v_units
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT event_type,
         CAST(SUM(v_units) AS BIGINT) AS sum_units,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM b GROUP BY event_type),
cum AS (
  SELECT b.event_type, b.hour_ts, t.sum_units, t.n,
         CAST(SUM(b.v_units) OVER (
             PARTITION BY b.event_type ORDER BY b.hour_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS run_units,
         CAST(row_number() OVER (
             PARTITION BY b.event_type ORDER BY b.hour_ts)
           AS BIGINT) AS i
  FROM b JOIN tot t ON b.event_type = t.event_type),
scored AS (
  SELECT event_type, hour_ts,
         n * run_units - i * sum_units AS cusum_scaled, n, sum_units
  FROM cum)
SELECT event_type, hour_ts AS changepoint_ts,
       CAST(abs(cusum_scaled) AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
           AS cusum_stat
FROM (SELECT *, row_number() OVER (
          PARTITION BY event_type
          ORDER BY abs(cusum_scaled) DESC, hour_ts) AS rn
      FROM scored) WHERE rn = 1
""",
    category="E",
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the hour where the
    cumulative deviation from the series mean |Σ_{i≤t}(v_i − μ)| peaks —
    the classic level-shift locator. The entire statistic runs in SCALED
    INTEGER arithmetic (micro-units; n·Σ_{i≤t}u − t·Σu clears the mean's
    division), because windowed SUM over doubles is fold-order-dependent
    and DuckDB's segment-tree window evaluation does NOT fold
    sequentially — integers are order-free, so the running sums are
    bit-identical on any engine and partitioning. Only the final
    normalization touches doubles (two exact conversions, one division).

    Scale: one corpus shuffle for the buckets; running sums and the
    argmax rank run per-type on the reduced series."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.sum(F.round(F.col("value") * 1000000).cast("long"))
        .cast("long")
        .alias("v_units")
    )
    tot = b.groupBy("event_type").agg(
        F.sum("v_units").cast("long").alias("sum_units"),
        F.count("*").alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    cum = (
        b.join(F.broadcast(tot), "event_type")
        .withColumn(
            "run_units",
            F.sum("v_units").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        )
        .withColumn("i", F.row_number().over(w).cast("long"))
    )
    scored = cum.withColumn(
        "cusum_scaled",
        F.col("n") * F.col("run_units") - F.col("i") * F.col("sum_units"),
    )
    w_top = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_scaled")).desc(), "hour_ts"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("hour_ts").alias("changepoint_ts"),
            (
                F.abs(F.col("cusum_scaled")).cast("double")
                / (F.col("n").cast("double") * F.lit(1000000.0))
            ).alias("cusum_stat"),
        )
    )


PATH_TOP_K = 5


@query(
    "events_path_topk",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
paths AS (
  SELECT event_type || '>' || e2 || '>' || e3 AS path,
         {BIGCOUNT()} AS n
  FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
  GROUP BY 1)
SELECT path, n, CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY n DESC, path) AS rn
      FROM paths) WHERE rn <= {PATH_TOP_K}
""",
    category="E",
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PATH_TOP_K} most-travelled 3-step event paths — the path
    analysis behind funnel discovery (``events_markov_transitions`` is
    the 1-step view; this surfaces whole trigram journeys). Per-user
    sequences order by the deterministic (ts, event_id) key; sliding
    trigrams come from two leads sharing ONE window spec (one user
    shuffle), and the final top-k is a rank over the tiny path table.

    Scale: one user_id shuffle for the leads, one path-keyed hash
    aggregation (path cardinality ≤ |types|³, tiny), rank on that."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    paths = (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
    )
    w_top = Window.orderBy(F.col("n").desc(), "path")
    return (
        paths.withColumn("rank", F.row_number().over(w_top).cast("int"))
        .filter(F.col("rank") <= PATH_TOP_K)
        .select("path", "n", "rank")
    )


@query(
    "agg_log2_histogram",
    oracle="""
WITH u AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem),
b AS (
  SELECT CAST(length(printf('%b', cents)) AS INT) AS bucket
  FROM u),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b)
SELECT bucket,
       CAST((CAST(1 AS BIGINT) << (bucket - 1)) AS BIGINT) AS lower_cents,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS DOUBLE) / n AS share
FROM b, tot GROUP BY bucket, n
""",
    category="D",
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-scale value histogram — the heavy-tail profiling shape
    (latency/price/size distributions) where equi-width buckets waste
    resolution. The bucket is computed EXACTLY as the binary-digit count
    of the integer cents (``length(bin(x))`` ≡ floor(log₂ x)+1) — no
    floating log, so bucket boundaries can never disagree across engines
    by a rounding hair. Bucket count ≤ 64 by construction.

    Scale: one map-side-combined aggregation over one scan plus a 1-row
    total broadcast; output bounded at 64 rows at any input size."""
    li = t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    b = li.select(
        F.length(F.bin(cents)).cast("int").alias("bucket")
    )
    agg = b.groupBy("bucket").agg(F.count("*").alias("n_rows"))
    tot = agg.agg(F.sum("n_rows").cast("long").alias("n"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), bucket - 1) AS BIGINT)")
        .alias("lower_cents"),
        "n_rows",
        (F.col("n_rows").cast("double") / F.col("n")).alias("share"),
    )


SWEEP_GAP_US = 30 * 60 * 1_000_000  # session gap, matches win_sessionize


@query(
    "events_max_concurrent_sessions",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id)
              <= {SWEEP_GAP_US} THEN 0 ELSE 1 END AS new_s
  FROM events),
sess AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_seq,
         ts
  FROM flagged),
bounds AS (
  SELECT user_id, session_seq, MIN(ts) AS s, MAX(ts) AS e
  FROM sess GROUP BY user_id, session_seq),
deltas AS (
  SELECT s AS at_ts, CAST(1 AS BIGINT) AS d FROM bounds
  UNION ALL
  SELECT e, CAST(-1 AS BIGINT) FROM bounds),
net AS (
  SELECT at_ts, CAST(SUM(d) AS BIGINT) AS net_d FROM deltas GROUP BY at_ts),
run AS (
  SELECT at_ts,
         CAST(SUM(net_d) OVER (ORDER BY at_ts
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrency
  FROM net)
SELECT CAST((SELECT COUNT(*) FROM bounds) AS BIGINT) AS n_sessions,
       concurrency AS peak_concurrency,
       at_ts AS peak_ts
FROM (SELECT *, row_number() OVER (
          ORDER BY concurrency DESC, at_ts) AS rn FROM run)
WHERE rn = 1
""",
    category="E",
)
def events_max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions — the capacity-planning number: sessionize
    (same 30-min-gap rule as ``win_sessionize``), sweep +1/−1 deltas at
    session starts/ends, and take the running-sum maximum (earliest
    timestamp on ties). Deltas are NETTED PER TIMESTAMP before the
    running sum: a session ending exactly when another starts never
    counts as overlap, and unique timestamps make the integer running
    sum order-unambiguous (DuckDB's segment-tree window is exact on
    integers).

    Scale: sessionization is the one corpus shuffle (shared window
    spec); the sweep runs over session endpoints (two rows per session),
    and the final argmax is a rank over that reduced series."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(us - F.lag(us).over(w) <= SWEEP_GAP_US, 0)
        .otherwise(1)
        .alias("new_s"),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    bounds = sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = bounds.select(
        F.col("s").alias("at_ts"), F.lit(1).cast("long").alias("d")
    ).unionAll(
        bounds.select(
            F.col("e").alias("at_ts"), F.lit(-1).cast("long").alias("d")
        )
    )
    net = deltas.groupBy("at_ts").agg(F.sum("d").cast("long").alias("net_d"))
    w_run = Window.orderBy("at_ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = net.withColumn(
        "concurrency", F.sum("net_d").over(w_run).cast("long")
    )
    n_sessions = bounds.agg(F.count("*").cast("long").alias("n_sessions"))
    w_top = Window.orderBy(F.col("concurrency").desc(), "at_ts")
    peak = (
        run.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(
            F.col("concurrency").alias("peak_concurrency"),
            F.col("at_ts").alias("peak_ts"),
        )
    )
    return F.broadcast(n_sessions).crossJoin(peak).select(
        "n_sessions", "peak_concurrency", "peak_ts"
    )


_KS_ORACLE = """
WITH s AS (
  SELECT o_totalprice AS x, o_orderstatus AS g FROM orders
  WHERE o_orderstatus IN ('F', 'O')),
n AS (
  SELECT CAST(SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM s),
pts AS (
  SELECT x,
         CAST(SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         CAST(SUM(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS a2
  FROM s GROUP BY x),
cum AS (
  SELECT x,
         SUM(a1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS c1,
         SUM(a2) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS c2
  FROM pts),
dev AS (
  SELECT x, abs(c1 * n.n2 - c2 * n.n1) AS num FROM cum, n)
SELECT n.n1, n.n2,
       CAST(MAX(num) AS BIGINT) AS d_num,
       CAST(MIN(CASE WHEN num = (SELECT MAX(num) FROM dev) THEN x END)
            AS DOUBLE) AS ks_at,
       CAST(MAX(num) AS DOUBLE)
         / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)) AS d_stat
FROM dev, n
GROUP BY n.n1, n.n2
"""


@query("events_ks_test", oracle=_KS_ORACLE, category="D")
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test (order totals of finished 'F'
    vs open 'O' orders) computed ENTIRELY in exact integers: at every
    distinct value the CDF deviation is |c1·n2 − c2·n1| (cross-
    multiplied to avoid per-point float division), the statistic's
    numerator is an integer MAX — bit-deterministic on any engine and
    partitioning — and only the final D = max/(n1·n2) is one pinned
    float division. Also reports the value where the max deviation
    occurs (min such value on ties). The distribution-free
    drift/mismatch test a data-quality layer runs between snapshots.

    Scale: one grouped count per distinct value, one global ordered
    cumsum window (the exact truth path; at extreme cardinality the
    binned two-pass variant replaces it, same integers per bin), one
    max aggregation. No floats until the last row."""
    s = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_totalprice").alias("x"), F.col("o_orderstatus").alias("g")
        )
    )
    from pyspark.sql.window import Window

    pts = s.groupBy("x").agg(
        F.sum(F.when(F.col("g") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("a1"),
        F.sum(F.when(F.col("g") == "O", 1).otherwise(0))
        .cast("bigint")
        .alias("a2"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = pts.select(
        "x",
        F.sum("a1").over(w).alias("c1"),
        F.sum("a2").over(w).alias("c2"),
    )
    n = s.agg(
        F.sum(F.when(F.col("g") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("g") == "O", 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )
    dev = cum.crossJoin(F.broadcast(n)).select(
        "x",
        "n1",
        "n2",
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).alias(
            "num"
        ),
    )
    mx = dev.agg(F.max("num").alias("mxv"))
    return (
        dev.crossJoin(F.broadcast(mx))
        .groupBy("n1", "n2")
        .agg(
            F.max("num").cast("bigint").alias("d_num"),
            F.min(F.when(F.col("num") == F.col("mxv"), F.col("x")))
            .cast("double")
            .alias("ks_at"),
            (
                F.max("num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("d_stat"),
        )
    )


_MWU_ORACLE = """
WITH s AS (
  SELECT o_totalprice AS x, o_orderstatus AS g FROM orders
  WHERE o_orderstatus IN ('F', 'O')),
n AS (
  SELECT CAST(SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM s),
pts AS (
  SELECT x,
         CAST(SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM s GROUP BY x),
rk AS (
  SELECT x, a1, cnt,
         SUM(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - cnt
           AS before
  FROM pts),
r1 AS (
  -- doubled midranks keep tie-averaged ranks in exact integers:
  -- midrank2 = 2*(before+1) + (cnt-1)
  SELECT CAST(SUM(a1 * (2 * (before + 1) + (cnt - 1))) AS BIGINT) AS r1x2
  FROM rk)
SELECT n.n1, n.n2,
       CAST(r1.r1x2 - n.n1 * (n.n1 + 1) AS BIGINT) AS u1_x2,
       CAST(r1.r1x2 - n.n1 * (n.n1 + 1) AS DOUBLE) / 2.0 AS u1,
       1.0 - (CAST(r1.r1x2 - n.n1 * (n.n1 + 1) AS DOUBLE)
              / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)))
         AS rank_biserial
FROM r1, n
"""


@query("events_mannwhitney_u", oracle=_MWU_ORACLE, category="D")
def events_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test ('F' vs 'O' order totals) in exact
    integers: tie-averaged midranks are kept in DOUBLED units
    (midrank·2 = 2·(rank_start) + (ties−1), always integral), so the
    rank sum and U statistic are exact BIGINTs on any engine and
    partitioning; the reported U and the rank-biserial effect size
    (1 − 2U/(n1·n2), the common-language effect) are two pinned float
    steps at the very end. Completes the nonparametric pair with
    ``events_ks_test`` — U detects location shift, KS any shape
    difference.

    Scale: same envelope as the KS key — per-distinct-value counts, one
    global ordered cumsum (binned variant at extreme cardinality), one
    integer dot-product aggregation."""
    from pyspark.sql.window import Window

    s = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_totalprice").alias("x"), F.col("o_orderstatus").alias("g")
        )
    )
    pts = s.groupBy("x").agg(
        F.sum(F.when(F.col("g") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("a1"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    rk = pts.select(
        "a1",
        "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("before"),
    )
    r1 = rk.agg(
        F.sum(
            F.col("a1") * (2 * (F.col("before") + 1) + (F.col("cnt") - 1))
        )
        .cast("bigint")
        .alias("r1x2")
    )
    n = s.agg(
        F.sum(F.when(F.col("g") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("g") == "O", 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )
    u1x2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    return r1.crossJoin(F.broadcast(n)).select(
        "n1",
        "n2",
        u1x2.cast("bigint").alias("u1_x2"),
        (u1x2.cast("double") / 2.0).alias("u1"),
        (
            F.lit(1.0)
            - (
                u1x2.cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            )
        ).alias("rank_biserial"),
    )


BOT_CV2_THRESHOLD_PCT = 25  # flag users whose gap cv² < 0.25 (too regular)
BOT_MIN_EVENTS = 20


_BOT_ORACLE = f"""
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id))) // 1000000
           AS gap_s
  FROM events),
m AS (
  SELECT user_id,
         CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS s1,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2
  FROM g WHERE gap_s IS NOT NULL
  GROUP BY user_id
  HAVING COUNT(gap_s) >= {BOT_MIN_EVENTS})
SELECT user_id, n_gaps,
       CAST(s1 AS DOUBLE) / n_gaps AS mean_gap_s,
       CAST(n_gaps * s2 - s1 * s1 AS BIGINT) AS cv2_num,
       CAST(s1 * s1 AS BIGINT) AS cv2_den,
       (n_gaps * s2 - s1 * s1) * 100 < s1 * s1 * {BOT_CV2_THRESHOLD_PCT}
         AS bot_flag
FROM m
"""


@query("events_bot_score", oracle=_BOT_ORACLE, category="L")
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by inter-arrival regularity — a standard
    corpus-curation filter (machine traffic shows unnaturally even
    gaps). Per user with ≥20 gaps: the squared coefficient of variation
    of whole-second gaps is kept as an exact integer RATIO
    (cv² = (n·Σg² − (Σg)²)/(Σg)², both sides BIGINT — second-granularity
    gaps keep n·Σg² inside int64 for month-scale spans), and the flag
    cv² < 0.25 is an INTEGER cross-multiplied comparison — no float
    enters the decision, so the verdict is bit-deterministic on any
    engine or partitioning. Mean gap is the one pinned float division,
    for the dashboard.

    Scale: one window pass per user for gaps (the ``win_sessionize``
    exchange), one partial+final integer moment aggregation; output is
    bounded by qualifying users."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # integer DIV, not float '/': a float quotient near an integer
    # boundary can round across it before the cast, diverging from the
    # oracle's exact floor division
    g = e.select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    ).select(
        "user_id", F.expr("gap_us div 1000000").alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    m = (
        g.groupBy("user_id")
        .agg(
            F.count("gap_s").cast("bigint").alias("n_gaps"),
            F.sum("gap_s").cast("bigint").alias("s1"),
            F.sum(F.col("gap_s") * F.col("gap_s"))
            .cast("bigint")
            .alias("s2"),
        )
        .filter(F.col("n_gaps") >= BOT_MIN_EVENTS)
    )
    num = F.col("n_gaps") * F.col("s2") - F.col("s1") * F.col("s1")
    den = F.col("s1") * F.col("s1")
    return m.select(
        "user_id",
        "n_gaps",
        (F.col("s1").cast("double") / F.col("n_gaps")).alias("mean_gap_s"),
        num.cast("bigint").alias("cv2_num"),
        den.cast("bigint").alias("cv2_den"),
        (num * 100 < den * BOT_CV2_THRESHOLD_PCT).alias("bot_flag"),
    )


_GINI_ORACLE = """
WITH u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY user_id),
r AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i
  FROM u),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(i * x) AS BIGINT) AS six
  FROM r)
SELECT n, sx AS total_events,
       CAST(2 * six - (n + 1) * sx AS BIGINT) AS gini_num,
       CAST(n * sx AS BIGINT) AS gini_den,
       CAST(2 * six - (n + 1) * sx AS DOUBLE) / (n * sx) AS gini
FROM s
"""


@query("events_lorenz_gini", oracle=_GINI_ORACLE, category="D")
def events_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity — the single-number
    inequality readout behind every Lorenz curve (0 = uniform,
    → 1 = one user dominates), computed from the exact rank identity
    G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx)/(n·Σx) with integer counts and integer
    rank products; ties in x leave Σ i·x unchanged, so the ranked sum
    is well-defined, and the numerator/denominator ship as exact
    BIGINTs beside the one pinned float division. Companion to
    ``agg_revenue_concentration``'s top-decile share.

    Scale: one per-user count shuffle, one global rank over the reduced
    user table (at extreme user counts: bucket by count histogram and
    rank bucket-wise — same integers), one moment aggregation."""
    from pyspark.sql.window import Window

    u = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("x")
    )
    w = Window.orderBy("x", "user_id")
    r = u.select("x", F.row_number().over(w).cast("bigint").alias("i"))
    s = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"),
    )
    num = 2 * F.col("six") - (F.col("n") + 1) * F.col("sx")
    den = F.col("n") * F.col("sx")
    return s.select(
        "n",
        F.col("sx").alias("total_events"),
        num.cast("bigint").alias("gini_num"),
        den.cast("bigint").alias("gini_den"),
        (num.cast("double") / den).alias("gini"),
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95


_WINSOR_ORACLE = f"""
WITH b AS (
  SELECT o_orderstatus,
         ROUND(quantile_cont(o_totalprice, {WINSOR_LO}), 6) AS lo,
         ROUND(quantile_cont(o_totalprice, {WINSOR_HI}), 6) AS hi
  FROM orders GROUP BY o_orderstatus)
SELECT o.o_orderstatus, {BIGCOUNT()} AS n, b.lo AS p05, b.hi AS p95,
       {DSUM("LEAST(GREATEST(o.o_totalprice, b.lo), b.hi)")} / COUNT(*)
         AS winsorized_mean,
       {DSUM("CASE WHEN o.o_totalprice >= b.lo AND o.o_totalprice <= b.hi THEN o.o_totalprice END")}
         / COUNT(CASE WHEN o.o_totalprice >= b.lo
                       AND o.o_totalprice <= b.hi THEN 1 END)
         AS trimmed_mean
FROM orders o JOIN b ON o.o_orderstatus = b.o_orderstatus
GROUP BY o.o_orderstatus, b.lo, b.hi
"""


@query("agg_winsorized_mean", oracle=_WINSOR_ORACLE, category="D")
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed means of order totals per status — the
    robust location estimates a metrics layer prefers when a few whale
    orders would drag the plain mean. Bounds are the pinned 6-dp-rounded
    p05/p95; clamping (LEAST/GREATEST) and the in-range filter are exact
    comparisons; both means go through decimal-exact sums divided by
    exact counts.

    Scale: one quantile pass over each group, a broadcast of the per-
    group bound pairs, then one partial+final aggregation — the corpus
    is scanned twice (bounds, then means), the standard two-pass robust
    estimator shape; a t-digest sketch collapses it to one pass at the
    cost of exactness."""
    o = t(spark, sf_dir, "orders")
    b = o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(WINSOR_LO)), 6).alias("lo"),
        F.round(F.percentile("o_totalprice", F.lit(WINSOR_HI)), 6).alias("hi"),
    )
    j = o.join(F.broadcast(b), "o_orderstatus")
    clamped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")
    )
    in_rng = (F.col("o_totalprice") >= F.col("lo")) & (
        F.col("o_totalprice") <= F.col("hi")
    )
    return j.groupBy("o_orderstatus", "lo", "hi").agg(
        F.count("*").alias("n"),
        (dsum(clamped) / F.count("*")).alias("winsorized_mean"),
        (
            dsum(F.when(in_rng, F.col("o_totalprice")))
            / F.count(F.when(in_rng, 1))
        ).alias("trimmed_mean"),
    ).select(
        "o_orderstatus",
        "n",
        F.col("lo").alias("p05"),
        F.col("hi").alias("p95"),
        "winsorized_mean",
        "trimmed_mean",
    )


_KM_ORACLE = """
WITH u AS (
  SELECT user_id, MIN(ts) AS t0, MAX(ts) AS t_last,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
  FROM events GROUP BY user_id),
obs AS (
  SELECT user_id,
         CAST((epoch_us(COALESCE(tp, t_last)) - epoch_us(t0)) // 86400000000
              AS BIGINT) AS t_days,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS is_event
  FROM u),
bytime AS (
  SELECT t_days,
         CAST(SUM(is_event) AS BIGINT) AS d,
         CAST(SUM(1 - is_event) AS BIGINT) AS c
  FROM obs GROUP BY t_days),
risk AS (
  SELECT t_days, d, c,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM obs)
           - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
  FROM bytime),
l AS (
  SELECT list(t_days ORDER BY t_days) AS ts_,
         list(d ORDER BY t_days) AS ds,
         list(c ORDER BY t_days) AS cs,
         list(n_risk ORDER BY t_days) AS ns,
         list(CAST(n_risk - d AS DOUBLE) / n_risk ORDER BY t_days)
           AS fs
  FROM risk)
SELECT ts_[i] AS t_days, ns[i] AS n_risk, ds[i] AS n_events,
       cs[i] AS n_censored,
       list_reduce(fs[1:i], (a, x) -> a * x) AS survival
FROM l, unnest(generate_series(1, len(ts_))) t(i)
"""


@query("events_survival_km", oracle=_KM_ORACLE, category="D")
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase (censored
    at each non-converting user's last activity): per distinct duration
    day, the at-risk count (integer window cumsum), events, censorings,
    and the product-limit survival estimate Π(1 − d/n). Every factor is
    one pinned division of exact integers and the running product is a
    first-element-seeded sequential fold over the day-ordered factor
    list (the ``ts_ewma`` discipline) — bit-identical on both engines.
    The conversion-latency readout growth teams actually use, with
    censoring handled correctly rather than dropping non-converters.

    Scale: one per-user aggregation (map-side MIN/MAX), a day-level
    table bounded by the observation span, and the fold runs over that
    bounded list — corpus touched once. The product-limit fold collapses
    the per-day table to one row and re-folds each prefix, so it is
    O(d²) in DISTINCT EVENT DAYS — d is calendar-bounded by construction
    (a decade of daily granularity is d≈3650, ~13M multiply-adds on one
    row), not data-bounded; for sub-day granularity curves, bucket the
    durations first."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("t_last"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
    )
    obs = u.select(
        F.expr(
            "(unix_micros(coalesce(tp, t_last)) - unix_micros(t0))"
            " div 86400000000"
        )
        .cast("bigint")
        .alias("t_days"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("is_event"),
    )
    bytime = obs.groupBy("t_days").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.sum(1 - F.col("is_event")).cast("bigint").alias("c"),
    )
    n_total = obs.agg(F.count("*").cast("bigint").alias("n_total"))
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = bytime.crossJoin(F.broadcast(n_total)).select(
        "t_days",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_cum), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    l = risk.agg(
        F.array_sort(
            F.collect_list(F.struct("t_days", "d", "c", "n_risk"))
        ).alias("rows")
    )
    # A named column read more than once: CollapseProject keeps it out of
    # the prefix-fold lambda, so it is built once, not once per prefix.
    l = l.withColumn(
        "fs",
        F.transform(
            F.col("rows"),
            lambda x: (x["n_risk"] - x["d"]).cast("double") / x["n_risk"],
        ),
    )
    fs = F.col("fs")
    n = F.size(F.col("rows"))
    surv = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.aggregate(
            F.slice(fs, F.lit(2), i - 1),
            F.element_at(fs, 1),
            lambda a, x: a * x,
        ),
    )
    zipped = F.arrays_zip(F.col("rows").alias("r"), surv.alias("s"))
    return (
        l.select(F.explode(zipped).alias("z"))
        .select(
            F.col("z.r.t_days").alias("t_days"),
            F.col("z.r.n_risk").alias("n_risk"),
            F.col("z.r.d").alias("n_events"),
            F.col("z.r.c").alias("n_censored"),
            F.col("z.s").alias("survival"),
        )
    )


STL_HALF = 12  # centered-MA half width: 25-point trend window


@query(
    "ts_stl_decompose",
    oracle=f"""
WITH b AS ({_BUCKETS}),
tr AS (
  SELECT event_type, hour_ts, v,
         CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS DOUBLE)
           / COUNT(v) OVER w AS trend
  FROM b
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
               ROWS BETWEEN {STL_HALF} PRECEDING
                        AND {STL_HALF} FOLLOWING)),
dt AS (
  SELECT event_type, hour_ts, v, trend,
         round(v - trend, 6) AS detrended
  FROM tr),
seas AS (
  SELECT event_type, CAST(hour(hour_ts) AS INT) AS hod,
         {DSUM('detrended')} / COUNT(*) AS seasonal
  FROM dt GROUP BY 1, 2)
SELECT dt.event_type, dt.hour_ts, dt.v, dt.trend, s.seasonal,
       dt.detrended - s.seasonal AS residual
FROM dt JOIN seas s
  ON s.event_type = dt.event_type
 AND s.hod = CAST(hour(dt.hour_ts) AS INT)
""",
    category="E",
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style additive decomposition of each type's hourly series
    into trend + seasonal + residual — the full three-component split
    that ``ts_seasonal_profile`` (seasonal-naive, no trend) feeds into
    dashboards: trend is a centered {2 * STL_HALF + 1}-point moving
    average (the classic STL inner-loop smoother, rows-framed over the
    bucket sequence), the seasonal component is the hour-of-day mean of
    the DETRENDED series, and what remains is the residual that
    anomaly monitors track.

    Exactness: the trend window divides a decimal-exact frame sum by
    the frame count (one double division, frame membership identical
    under any partitioning because the order key is unique per type);
    detrended values are rounded to 6 dp before the order-free decimal
    seasonal mean; the residual is one mirrored subtraction.

    Scale: one decimal bucket shuffle, one keyed window pass (state =
    {2 * STL_HALF + 1} rows), one tiny profile aggregation rejoined as
    a broadcast — the ``ts_seasonal_profile`` envelope plus a single
    window; nothing touches the raw corpus twice."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(dsum(F.col("value")).alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-STL_HALF, STL_HALF)
    )
    tr = b.select(
        "event_type",
        "hour_ts",
        "v",
        (
            F.sum(F.col("v").cast("decimal(18,6)")).over(w).cast("double")
            / F.count("v").over(w)
        ).alias("trend"),
    )
    dt = tr.withColumn(
        "detrended", F.round(F.col("v") - F.col("trend"), 6)
    )
    seas = dt.groupBy(
        "event_type", F.hour("hour_ts").cast("int").alias("hod")
    ).agg((dsum(F.col("detrended")) / F.count("*")).alias("seasonal"))
    return (
        dt.withColumn("hod", F.hour("hour_ts").cast("int"))
        .join(F.broadcast(seas), ["event_type", "hod"])
        .select(
            "event_type",
            "hour_ts",
            "v",
            "trend",
            "seasonal",
            (F.col("detrended") - F.col("seasonal")).alias("residual"),
        )
    )
